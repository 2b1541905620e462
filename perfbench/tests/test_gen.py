"""The generator is a pure function of the seed."""

from __future__ import annotations

import hashlib
import os

from perfbench import gen


def _digest(tmp_path, seed: int) -> dict[str, str]:
    out = str(tmp_path / f"s{seed}")
    tables = gen.star_tables(seed, 0.001)
    tables["events"] = gen.events_table(seed, 500)
    tables["documents"] = gen.documents_table(seed, 200)
    tables["embeddings"] = gen.embeddings_table(seed, 100)
    gen.write_tables(out, tables)
    return {
        f: hashlib.sha256(open(os.path.join(out, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(out))
    }


def test_same_seed_same_files(tmp_path):
    assert _digest(tmp_path / "a", 7) == _digest(tmp_path / "b", 7)


def test_other_seed_other_files(tmp_path):
    a, b = _digest(tmp_path / "a", 7), _digest(tmp_path / "b", 8)
    # region and nation are fixed dimension tables; every generated table differs
    assert {f for f in a if a[f] != b[f]} == set(a) - {"region.parquet", "nation.parquet"}


def test_stream_files_are_seeded_and_replay_within_window():
    files, rows_per_file = 12, 200
    a, b = gen.event_files(3, files, rows_per_file), gen.event_files(3, files, rows_per_file)
    assert [gen.file_text(f) for f in a] == [gen.file_text(f) for f in b]
    assert gen.file_text(a[5]) != gen.file_text(gen.event_files(4, files, rows_per_file)[5])
    seen: dict[int, int] = {}
    replays = 0
    for i, rows in enumerate(a):
        assert len(rows) == rows_per_file
        for r in rows:
            if r["event_id"] in seen:
                replays += 1
                assert i - seen[r["event_id"]] <= gen.REPLAY_WINDOW_FILES
            else:
                seen[r["event_id"]] = i
    assert replays == round(rows_per_file * gen.REPLAY_SHARE) * (files - 1)


def test_documents_plant_near_duplicates():
    docs = gen.documents_table(5, 400).column("text").to_pylist()
    near = [t for t in docs if t.endswith(" dup")]
    assert near and all(t[: -len(" dup")] in docs for t in near)
