"""ClickHouse function names resolve through ``plans.sql``: each of the
323 names in SCALAR_CALLS / AGGREGATE_CALLS resolves and runs in a fresh
session, and the array/JSON/map/tuple family (plus the URL, string and
aggregate names lowered only by the dialect) evaluates to the reference
semantics."""

from __future__ import annotations

import pytest

from daisy_spark import plans

#: one call per scalar name, evaluated as ``SELECT <call>``
SCALAR_CALLS = {
    "abs": "abs(-3)", "acos": "acos(1)",
    "addDays": "addDays(toDate('2024-01-01'), 3)",
    "addHours": "addHours(toDateTime('2024-01-01 00:00:00'), 3)",
    "addMinutes": "addMinutes(toDateTime('2024-01-01 00:00:00'), 3)",
    "addMonths": "addMonths(toDate('2024-01-31'), 1)",
    "addSeconds": "addSeconds(toDateTime('2024-01-01 00:00:00'), 3)",
    "addWeeks": "addWeeks(toDate('2024-01-01'), 1)",
    "addYears": "addYears(toDate('2024-01-01'), 1)", "and": "and(1, 0)",
    "array": "array(1, 2)", "arrayAll": "arrayAll(x -> x > 0, [1, 5])",
    "arrayAvg": "arrayAvg([2.0, 4.0])",
    "arrayCompact": "arrayCompact([1, 1, 2, 1])",
    "arrayConcat": "arrayConcat([1], [2])",
    "arrayCount": "arrayCount(x -> x > 2, [1, 5])",
    "arrayCumSum": "arrayCumSum([1, 2, 3])",
    "arrayDifference": "arrayDifference([1, 4, 2])",
    "arrayDistinct": "arrayDistinct([1, 1, 2])",
    "arrayElement": "arrayElement([7, 8], -1)",
    "arrayEnumerate": "arrayEnumerate([7, 8])",
    "arrayExcept": "arrayExcept([1, 2, 3], [2])",
    "arrayExists": "arrayExists(x -> x > 4, [1, 5])",
    "arrayFilter": "arrayFilter(x -> x > 2, [1, 5])",
    "arrayFlatten": "arrayFlatten([[1], [2, 3]])",
    "arrayIntersect": "arrayIntersect([1, 2], [2, 3])",
    "arrayJoin": "arrayJoin([1, 2])",
    "arrayMap": "arrayMap(x -> x * 10, [1, 2])",
    "arrayMax": "arrayMax([1, 5])", "arrayMin": "arrayMin([1, 5])",
    "arrayPopBack": "arrayPopBack([1, 2])",
    "arrayPopFront": "arrayPopFront([1, 2])",
    "arrayPushBack": "arrayPushBack([1], 2)",
    "arrayPushFront": "arrayPushFront([1], 2)",
    "arrayReverse": "arrayReverse([1, 2])",
    "arrayReverseSort": "arrayReverseSort([1, 3, 2])",
    "arraySlice": "arraySlice([1, 2, 3], 2, 2)",
    "arraySort": "arraySort([3, 1, 2])",
    "arrayStringConcat": "arrayStringConcat(['a', 'b'], '-')",
    "arraySum": "arraySum([1.5, 2.5])",
    "arrayUnion": "arrayUnion([1, 2], [2, 3])",
    "arrayUniq": "arrayUniq([1, 1, 2])",
    "arrayZip": "arrayZip([1, 2], ['a', 'b'])", "asin": "asin(1)",
    "assumeNotNull": "assumeNotNull(1)", "atan": "atan(1)",
    "bar": "bar(5, 0, 10, 10)",
    "bitmapAnd": "bitmapToArray(bitmapAnd(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])))",
    "bitmapAndnot": "bitmapToArray(bitmapAndnot(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])))",
    "bitmapBuild": "bitmapToArray(bitmapBuild([1, 2, 3]))",
    "bitmapCardinality": "bitmapCardinality(bitmapBuild([1, 1, 2]))",
    "bitmapContains": "bitmapContains(bitmapBuild([1, 2]), 2)",
    "bitmapHasAll": "bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([1, 3]))",
    "bitmapHasAny": "bitmapHasAny(bitmapBuild([1, 2]), bitmapBuild([3]))",
    "bitmapOr": "bitmapToArray(bitmapOr(bitmapBuild([1, 2]), bitmapBuild([2, 3])))",
    "bitmapXor": "bitmapToArray(bitmapXor(bitmapBuild([1, 2]), bitmapBuild([2, 3])))",
    "bitmaskToList": "bitmaskToList(50)", "cbrt": "cbrt(27)",
    "ceil": "ceil(1.25, 1)", "char_length": "char_length('abc')",
    "cityHash64": "cityHash64('abc')", "coalesce": "coalesce(NULL, 2)",
    "concat": "concat('a', 'b')", "cos": "cos(0)",
    "countSubstrings": "countSubstrings('aaa', 'a')", "CRC32": "CRC32('abc')",
    "cutQueryString": "cutQueryString('http://a.com/p?x=1#f')",
    "dateDiff": "dateDiff('day', toDate('2024-01-01'), toDate('2024-01-05'))",
    "divide": "divide(7, 2)",
    "domain": "domain('https://www.example.com:8080/a?b=1')",
    "domainWithoutWWW": "domainWithoutWWW('https://www.example.com/a')",
    "e": "e()", "empty": "empty('')",
    "emptyArrayToSingle": "emptyArrayToSingle(CAST([] AS Array(Int32)))",
    "endsWith": "endsWith('abc', 'c')", "equals": "equals(1, 1)",
    "exp": "exp(0)", "extract": "extract('abc123', '\\\\d+')",
    "extractAll": "extractAll('a1b22', '\\\\d+')",
    "extractURLParameter": "extractURLParameter('http://a.com/?x=1&y=2', 'y')",
    "floor": "floor(1.25, 1)", "format": "format('{} and {}', 'a', 'b')",
    "formatDateTime": "formatDateTime(toDateTime('2024-01-02 03:04:05'), '%Y-%m-%d')",
    "formatReadableSize": "formatReadableSize(1536)",
    "fromUnixTimestamp64Micro": "fromUnixTimestamp64Micro(1700000000000000)",
    "fromUnixTimestamp64Milli": "fromUnixTimestamp64Milli(1700000000000)",
    "generateUUIDv4": "length(toString(generateUUIDv4()))",
    "geohashEncode": "geohashEncode(-5.60302734375, 42.60498046875, 5)",
    "greatCircleDistance": "greatCircleDistance(2.3522, 48.8566, -0.1278, 51.5074)",
    "greater": "greater(2, 1)", "greaterOrEquals": "greaterOrEquals(2, 1)",
    "greatest": "greatest(1, 3, 2)", "halfMD5": "halfMD5('abc')",
    "has": "has([1, 2], 2)", "hasAll": "hasAll([1, 2], [2])",
    "hasAny": "hasAny([1], [9])", "hex": "hex(255)",
    "hostName": "length(hostName()) > 0", "if": "if(1, 2, 3)",
    "ifNotFinite": "ifNotFinite(1 / 0, 5)", "ifNull": "ifNull(NULL, 2)",
    "ilike": "ilike('ABC', 'a%')", "indexOf": "indexOf(['a', 'b'], 'b')",
    "intDiv": "intDiv(7, 2)", "intExp10": "intExp10(3)",
    "intExp2": "intExp2(3)", "IPv4NumToString": "IPv4NumToString(3232235521)",
    "IPv4StringToNum": "IPv4StringToNum('192.168.0.1')",
    "IPv6NumToString": "IPv6NumToString(IPv6StringToNum('1:203:405:607:809:a0b:c0d:e0f'))",
    "isFinite": "isFinite(1)", "isNaN": "isNaN(0 / 0)",
    "isNotNull": "isNotNull(1)", "isNull": "isNull(1)",
    "JSONExtractBool": 'JSONExtractBool(\'{"k": true}\', \'k\')',
    "JSONExtractFloat": 'JSONExtractFloat(\'{"k": 1.5}\', \'k\')',
    "JSONExtractInt": 'JSONExtractInt(\'{"k": 7}\', \'k\')',
    "JSONExtractKeys": 'JSONExtractKeys(\'{"a": 1, "b": 2}\')',
    "JSONExtractRaw": 'JSONExtractRaw(\'{"k": [1,2]}\', \'k\')',
    "JSONExtractString": 'JSONExtractString(\'{"k": "x"}\', \'k\')',
    "JSONHas": 'JSONHas(\'{"k": 7}\', \'q\')',
    "JSONLength": 'JSONLength(\'{"a": 1, "b": 2}\')',
    "least": "least(1, 3, 2)", "leftPad": "leftPad('ab', 4, '*')",
    "length": "length('abc')", "less": "less(1, 2)",
    "lessOrEquals": "lessOrEquals(1, 2)", "like": "like('abc', 'a%')",
    "log": "log(1)", "log10": "log10(100)", "log2": "log2(8)",
    "lower": "lower('AB')", "lowerUTF8": "lowerUTF8('AB')",
    "MACNumToString": "MACNumToString(11111822610015)",
    "MACStringToNum": "MACStringToNum('0a:1b:2c:3d:4e:5f')",
    "map": "map('k', 1)", "mapContains": "mapContains(map('k', 1), 'k')",
    "mapKeys": "mapKeys(map('k', 1))", "mapValues": "mapValues(map('k', 1))",
    "match": "match('abc', 'b')", "MD5": "hex(MD5('abc'))",
    "minus": "minus(3, 1)", "modulo": "modulo(7, 3)",
    "multiIf": "multiIf(0, 1, 1, 2, 3)", "multiply": "multiply(2, 3)",
    "multiSearchAny": "multiSearchAny('abc', ['x', 'b'])",
    "negate": "negate(2)", "neighbor": "neighbor(1, 0)",
    "ngramDistance": "ngramDistance('hello world', 'hello world')",
    "ngramSearch": "ngramSearch('hello world', 'hello')", "not": "not(1)",
    "notEmpty": "notEmpty('a')", "notEquals": "notEquals(1, 2)",
    "notLike": "notLike('abc', 'x%')", "now": "toYear(now()) > 2000",
    "nullIf": "nullIf(1, 1)", "or": "or(1, 0)",
    "parseDateTimeBestEffort": "parseDateTimeBestEffort('2024-01-02 03:04:05')",
    "path": "path('http://a.com/x/y?z=1')", "pi": "pi()", "plus": "plus(1, 2)",
    "pointInPolygon": "pointInPolygon((1., 1.), [(0., 0.), (2., 0.), (2., 2.), (0., 2.)])",
    "position": "position('abc', 'b')",
    "positionCaseInsensitive": "positionCaseInsensitive('ABC', 'b')",
    "pow": "pow(2, 3)", "protocol": "protocol('https://a.com/x')",
    "queryString": "queryString('http://a.com/p?x=1&y=2#f')",
    "rand": "rand() >= 0", "rand64": "rand64() = rand64()",
    "range": "range(3)", "repeat": "repeat('ab', 2)",
    "replaceAll": "replaceAll('aXbX', 'X', '-')",
    "replaceOne": "replaceOne('aXbX', 'X', '-')",
    "replaceRegexpAll": "replaceRegexpAll('a1b2', '\\\\d', '-')",
    "replaceRegexpOne": "replaceRegexpOne('a1b2', '\\\\d', '-')",
    "reverse": "reverse('abc')", "rightPad": "rightPad('ab', 4, '*')",
    "round": "round(1.25, 1)", "roundAge": "roundAge(30)",
    "roundBankers": "roundBankers(2.5)", "roundDuration": "roundDuration(100)",
    "roundToExp2": "roundToExp2(100)",
    "runningAccumulate": "runningAccumulate(sumState(1))",
    "runningDifference": "runningDifference(1)", "SHA1": "hex(SHA1('abc'))",
    "SHA256": "hex(SHA256('abc'))", "sign": "sign(-3)", "sin": "sin(0)",
    "sipHash64": "sipHash64('abc')", "splitByChar": "splitByChar(',', 'a,b')",
    "splitByRegexp": "splitByRegexp('\\\\d', 'a1b')",
    "splitByString": "splitByString('::', 'a::b')", "sqrt": "sqrt(4)",
    "startsWith": "startsWith('abc', 'a')",
    "substring": "substring('abcd', 2, 2)",
    "subtractDays": "subtractDays(toDate('2024-01-05'), 3)", "tan": "tan(0)",
    "timeSlot": "timeSlot(toDateTime('2024-01-01 10:47:00'))",
    "toDate": "toDate('2024-01-02')",
    "toDateTime": "toDateTime('2024-01-02 03:04:05')",
    "toDateTime64": "toDateTime64('2024-01-02 03:04:05.123', 3)",
    "today": "today() > toDate('2000-01-01')",
    "toDayOfMonth": "toDayOfMonth(toDate('2024-01-02'))",
    "toDayOfWeek": "toDayOfWeek(toDate('2024-01-02'))",
    "toDayOfYear": "toDayOfYear(toDate('2024-02-02'))",
    "toFloat32": "toFloat32('1.5')", "toFloat64": "toFloat64('1.5')",
    "toHour": "toHour(toDateTime('2024-01-02 03:04:05'))",
    "toInt16": "toInt16('7')", "toInt32": "toInt32('7')",
    "toInt64": "toInt64('7')", "toInt8": "toInt8('7')",
    "toJSONString": "toJSONString(map('a', 1))",
    "toMinute": "toMinute(toDateTime('2024-01-02 03:04:05'))",
    "toMonth": "toMonth(toDate('2024-03-02'))",
    "topLevelDomain": "topLevelDomain('https://www.example.co.uk/a')",
    "toQuarter": "toQuarter(toDate('2024-05-02'))",
    "toSecond": "toSecond(toDateTime('2024-01-02 03:04:05'))",
    "toStartOfDay": "toStartOfDay(toDateTime('2024-01-02 03:04:05'))",
    "toStartOfFifteenMinutes": "toStartOfFifteenMinutes(toDateTime('2024-01-02 03:34:05'))",
    "toStartOfFiveMinute": "toStartOfFiveMinute(toDateTime('2024-01-02 03:34:05'))",
    "toStartOfHour": "toStartOfHour(toDateTime('2024-01-02 03:04:05'))",
    "toStartOfMinute": "toStartOfMinute(toDateTime('2024-01-02 03:04:05'))",
    "toStartOfMonth": "toStartOfMonth(toDate('2024-01-22'))",
    "toStartOfQuarter": "toStartOfQuarter(toDate('2024-05-22'))",
    "toStartOfTenMinutes": "toStartOfTenMinutes(toDateTime('2024-01-02 03:34:05'))",
    "toStartOfWeek": "toStartOfWeek(toDate('2024-01-04'))",
    "toStartOfYear": "toStartOfYear(toDate('2024-05-22'))",
    "toString": "toString(12)", "toUInt16": "toUInt16('7')",
    "toUInt32": "toUInt32('7')", "toUInt64": "toUInt64('7')",
    "toUInt8": "toUInt8('7')",
    "toUnixTimestamp": "toUnixTimestamp(toDateTime('2024-01-02 03:04:05', 'UTC'))",
    "toUnixTimestamp64Micro": "toUnixTimestamp64Micro(toDateTime64('2024-01-02 03:04:05.123', 3, 'UTC'))",
    "toUnixTimestamp64Milli": "toUnixTimestamp64Milli(toDateTime64('2024-01-02 03:04:05.123', 3, 'UTC'))",
    "toYear": "toYear(toDate('2024-01-02'))",
    "toYYYYMM": "toYYYYMM(toDate('2024-01-02'))",
    "toYYYYMMDD": "toYYYYMMDD(toDate('2024-01-02'))",
    "transform": "transform(2, [1, 2], [10, 20], 0)",
    "trimBoth": "trimBoth('  a  ')", "trimLeft": "trimLeft('  a  ')",
    "trimRight": "trimRight('  a  ')", "trunc": "trunc(1.7)",
    "tuple": "tuple(1, 'a')", "tupleElement": "tupleElement(tuple(10, 20), 2)",
    "unhex": "unhex('4142')", "upper": "upper('ab')",
    "upperUTF8": "upperUTF8('ab')", "version": "length(version()) > 0",
    "visitParamExtractInt": 'visitParamExtractInt(\'{"k": 7}\', \'k\')',
    "visitParamExtractString": 'visitParamExtractString(\'{"k": "x"}\', \'k\')',
    "xor": "xor(1, 0)", "xxHash64": "xxHash64('abc')",
    "yesterday": "yesterday() < today()",
}

#: the table the aggregate calls run over
AGGREGATE_SOURCE = (
    "(SELECT number AS x, toFloat64(number) AS v, number % 2 AS s, "
    "toDateTime('2024-01-01 00:00:00') + number AS t, "
    "toString(number % 3) AS k FROM numbers(10))"
)

#: one call per aggregate name, evaluated over AGGREGATE_SOURCE
AGGREGATE_CALLS = {
    "any": "any(x)", "anyHeavy": "anyHeavy(s)", "anyLast": "anyLast(x)",
    "argMax": "argMax(k, x)", "argMin": "argMin(k, x)", "avg": "avg(v)",
    "avgIf": "avgIf(v, s = 1)", "avgWeighted": "avgWeighted(v, x)",
    "boundingRatio": "boundingRatio(x, v)",
    "categoricalInformationValue": "categoricalInformationValue(v > 3, s)",
    "corr": "corr(v, x)", "count": "count(x)", "countIf": "countIf(s = 1)",
    "covarPop": "covarPop(v, x)", "covarSamp": "covarSamp(v, x)",
    "deltaSum": "deltaSum(v)", "deltaSumTimestamp": "deltaSumTimestamp(v, t)",
    "entropy": "entropy(k)", "groupArray": "groupArray(x)",
    "groupArrayInsertAt": "groupArrayInsertAt(v, x)",
    "groupArrayMovingAvg": "groupArrayMovingAvg(2)(v)",
    "groupArrayMovingSum": "groupArrayMovingSum(3)(v)",
    "groupBitAnd": "groupBitAnd(x)", "groupBitmap": "groupBitmap(x)",
    "groupBitOr": "groupBitOr(x)", "groupBitXor": "groupBitXor(x)",
    "groupUniqArray": "arraySort(groupUniqArray(k))",
    "histogram": "histogram(3)(v)", "kurtPop": "kurtPop(v)", "max": "max(x)",
    "maxIntersections": "maxIntersections(v, v + 2)",
    "maxMap": "maxMap([1], [v])", "median": "median(v)", "min": "min(x)",
    "minMap": "minMap([1], [v])", "quantile": "quantile(0.5)(v)",
    "quantileExact": "quantileExact(0.5)(v)",
    "quantiles": "quantiles(0.25, 0.75)(v)",
    "quantileTDigest": "quantileTDigest(0.5)(v)",
    "quantileTiming": "quantileTiming(0.5)(v)", "rate": "rate(x, v)",
    "retention": "retention(s = 0, s = 1)",
    "segmentLengthSum": "segmentLengthSum(x, x + 1)",
    "sequenceCount": "sequenceCount('(?1)(?2)')(t, s = 0, s = 1)",
    "sequenceMatch": "sequenceMatch('(?1)(?2)')(t, s = 0, s = 1)",
    "simpleLinearRegression": "simpleLinearRegression(x, v)",
    "skewPop": "skewPop(v)", "stddevPop": "stddevPop(v)",
    "stddevSamp": "stddevSamp(v)",
    "stochasticLinearRegression": "stochasticLinearRegression(x, v)",
    "studentTTest": "studentTTest(v, s)", "sum": "sum(x)",
    "sumArray": "sumArray([x, x])", "sumCount": "sumCount(x)",
    "sumIf": "sumIf(x, s = 1)", "sumMap": "sumMap([1], [x])",
    "topK": "topK(2)(s)", "topKWeighted": "topKWeighted(2)(s, x)",
    "uniq": "uniq(k)", "uniqArray": "uniqArray([k])",
    "uniqCombined": "uniqCombined(k)", "uniqExact": "uniqExact(k)",
    "uniqHLL12": "uniqHLL12(k)", "uniqTheta": "uniqTheta(k)",
    "uniqUpTo": "uniqUpTo(2)(k)", "varPop": "varPop(v)",
    "varSamp": "varSamp(v)", "welchTTest": "welchTTest(v, s)",
    "windowFunnel": "windowFunnel(5)(t, s = 0, s = 1)",
}

def test_every_registry_name_is_callable(spark):
    """Each name resolves, and runs, in a session no ScriptRunner has
    touched (the ch_* UDFs register on first use)."""
    fresh = spark.newSession()
    failed = {}
    for calls, source in ((SCALAR_CALLS, ""), (AGGREGATE_CALLS, AGGREGATE_SOURCE)):
        for name, call in calls.items():
            query = f"SELECT {call} AS v" + (f" FROM {source}" if source else "")
            try:
                plans.sql(fresh, query).collect()
            except Exception as e:  # noqa: BLE001 - reported below
                failed[name] = str(e).splitlines()[0][:200]
    assert len(SCALAR_CALLS) + len(AGGREGATE_CALLS) == 323
    assert not failed, failed


def _eval(spark, name, args):
    return plans.sql(spark, f"SELECT {name}({args}) AS v").collect()[0].v


@pytest.mark.parametrize(
    "name,make_args,expected",
    [
        ("arrayMap", lambda: "x -> x * 10, [1, 2]", [10, 20]),
        ("arrayFilter", lambda: "x -> x > 2, [1, 5]", [5]),
        ("arrayExists", lambda: "x -> x > 4, [1, 5]", True),
        ("arrayAll", lambda: "x -> x > 0, [1, 5]", True),
        ("arrayCount", lambda: "x -> x > 2, [1, 5]", 1),
        ("arraySum", lambda: "[1.5, 2.5]", 4.0),
        ("arrayAvg", lambda: "[2.0, 4.0]", 3.0),
        ("arrayUniq", lambda: "[1, 1, 2]", 2),
        ("arrayCompact", lambda: "[1, 1, 2, 1]", [1, 2, 1]),
        ("arrayDifference", lambda: "[1, 4, 2]", [0.0, 3.0, -2.0]),
        ("arrayCumSum", lambda: "[1, 2, 3]", [1.0, 3.0, 6.0]),
        ("arrayPushBack", lambda: "[1], 2", [1, 2]),
        ("arrayPopFront", lambda: "[1, 2]", [2]),
        ("arraySlice", lambda: "[1, 2, 3], 2, 2", [2, 3]),
        ("hasAll", lambda: "[1, 2], [2]", True),
        ("hasAny", lambda: "[1], [9]", False),
        ("indexOf", lambda: "['a', 'b'], 'b'", 2),
        ("arrayElement", lambda: "[7, 8], -1", 8),
        # the Int32 type default, not NULL (emptyArrayToSingle.cpp)
        ("emptyArrayToSingle", lambda: "CAST([] AS Array(Int32))", [0]),
        ("JSONExtractString", lambda: """'{"k": "x"}', 'k'""", "x"),
        ("JSONExtractInt", lambda: """'{"k": 7}', 'k'""", 7),
        ("JSONHas", lambda: """'{"k": 7}', 'q'""", False),
        ("JSONLength", lambda: """'{"a": 1, "b": 2}'""", 2),
        ("JSONExtractKeys", lambda: """'{"a": 1, "b": 2}'""", ["a", "b"]),
        ("mapKeys", lambda: "map('k', 1)", ["k"]),
        ("mapContains", lambda: "map('k', 1), 'k'", True),
        ("tupleElement", lambda: "tuple(10, 20), 2", 20),
        ("range", lambda: "3", [0, 1, 2]),
        # URL, string and array names only the dialect lowers
        ("arrayExcept", lambda: "[1, 2, 3], [2]", [1, 3]),
        ("arrayMax", lambda: "[1, 5]", 5),
        ("arrayMin", lambda: "[1, 5]", 1),
        ("arrayUnion", lambda: "[1, 2], [2, 3]", [1, 2, 3]),
        ("cutQueryString", lambda: "'http://a.com/p?x=1'", "http://a.com/p"),
        ("domain", lambda: "'https://www.example.com:8080/a?b=1'", "www.example.com"),
        ("topLevelDomain", lambda: "'https://www.example.co.uk/a'", "uk"),
        ("protocol", lambda: "'https://a.com/x'", "https"),
        ("queryString", lambda: "'http://a.com/p?x=1&y=2#f'", "x=1&y=2"),
        ("format", lambda: "'{} and {}', 'a', 'b'", "a and b"),
        ("ngramDistance", lambda: "'hello world', 'hello there'", 0.625),
        ("ngramSearch", lambda: "'hello world', 'hello'", 1.0),
        ("replaceOne", lambda: "'aXbX', 'X', '-'", "a-bX"),
        ("toJSONString", lambda: "map('a', 1)", '{"a":1}'),
        ("extract", lambda: "'abc123', '\\\\d+'", "123"),
        ("like", lambda: "'abc', 'a%'", True),
        ("ilike", lambda: "'ABC', 'a%'", True),
        # no capturing group: the whole match
        ("extract", lambda: "'xABCx', '(?i)abc'", "ABC"),
        ("extract", lambda: "'xababy', '(?:ab)+'", "abab"),
        ("extract", lambda: "'f(x)', '\\\\(x'", "(x"),
        ("extractAll", lambda: "'aAbA', '(?i)a'", ["a", "A", "A"]),
    ],
)
def test_array_json_semantics(spark, name, make_args, expected):
    got = _eval(spark, name, make_args())
    assert got == expected, f"{name}: {got!r} != {expected!r}"


def _ordered_source(spark):
    """Ten rows in one partition, so arrival order is ``i`` order."""
    spark.createDataFrame(
        [(i, float(v), i % 2) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3])],
        "i int, v double, s int",
    ).coalesce(1).createOrReplaceTempView("ordered_src")


@pytest.mark.parametrize(
    "call,expected",
    [
        ("groupArrayInsertAt(v, i)", [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]),
        ("groupArrayMovingAvg(2)(v)", [1.5, 2.0, 2.5, 2.5, 3.0, 7.0, 5.5, 4.0, 5.5, 4.0]),
        ("groupArrayMovingSum(3)(v)", [3.0, 4.0, 8.0, 6.0, 10.0, 15.0, 16.0, 17.0, 13.0, 14.0]),
        ("rate(i, v + i)", 1.0),
        ("simpleLinearRegression(i, v)", (0.2727272727272727, 2.672727272727273)),
        ("stochasticLinearRegression(i, v)", (0.2727272727272727, 2.672727272727273)),
        ("sumCount(v)", (39.0, 10)),
        ("uniqTheta(v)", 7),
    ],
)
def test_moved_aggregate_semantics(spark, call, expected):
    _ordered_source(spark)
    got = plans.sql(spark, f"SELECT {call} AS v FROM ordered_src").collect()[0].v
    if isinstance(expected, tuple):
        assert tuple(got) == pytest.approx(expected), call
    else:
        assert got == pytest.approx(expected), call
