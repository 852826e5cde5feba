"""Scalar / aggregate function registry — reference UDF-surface parity.

The reference registers UDFs by name via @UdfDefine + classpath scan
(/root/reference/reasoner/udf/src/main/java/com/antgroup/openspg/reasoner/udf/UdfMngFactory.java,
impl/UdfMngImpl.java). Here the registry is a plain dict of
Column-builder callables — every entry lowers to a built-in Catalyst
expression (JVM-side, codegen'd); nothing is a Python UDF.

Name -> implementation mapping follows SURVEY.md §2.8 (builtin files
under /root/reference/reasoner/udf/src/main/java/com/antgroup/openspg/reasoner/udf/builtin/).
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd  # pandas_udf type hints (geo group) resolve at module scope
from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# scalar functions (reference builtin/udf/*.java)
# --------------------------------------------------------------------------

def _flex_date(c) -> Column:
    """A date from an ISO or compact-'yyyyMMdd' string (or a real
    date/timestamp); null when neither parses."""
    c = c if isinstance(c, Column) else F.lit(c)
    s = c.cast("string")
    return F.coalesce(F.try_to_date(s), F.try_to_date(s, "yyyyMMdd"))


SCALARS: dict[str, Callable[..., Column]] = {
    # string (Concat.java, ContainsAny.java, InStr.java, IsBlank.java, …)
    # NB: literal args reach registry callables as raw Python values, and
    # F.concat/F.concat_ws interpret a raw str as a COLUMN NAME — lift
    # them (concat(c.name, "suffix") is the common shipped-rule shape)
    "concat": lambda *args: F.concat(
        *[a if isinstance(a, Column) else F.lit(a) for a in args]
    ),
    "concat_ws": lambda sep, *args: F.concat_ws(
        sep, *[a if isinstance(a, Column) else F.lit(a) for a in args]
    ),
    "contains_any": lambda col, items: F.exists(
        F.array(*[F.lit(i) for i in items]), lambda x: F.contains(col, x)
    ),
    "in_str": lambda haystack, needle: F.instr(haystack, needle),
    "is_blank": lambda c: F.coalesce(F.trim(c) == "", F.lit(True)),
    "is_not_blank": lambda c: ~F.coalesce(F.trim(c) == "", F.lit(True)),
    "lower": F.lower,
    "upper": F.upper,
    "str_contains": lambda c, s: F.contains(c, F.lit(s)),
    # ContainsTag.java:20-43 — any TRIMMED tag of `tag_list` appears in
    # the RAW (untrimmed) element set of `value`; empty/null -> false.
    # The delimiter is a literal (Guava Splitter.on), so escape it before
    # handing it to F.split's regex.
    "contains_tag": lambda value, tag_list, delim=",": F.coalesce(
        F.arrays_overlap(
            F.split(value, re.escape(delim)),
            F.transform(
                F.split(tag_list, re.escape(delim)),
                lambda x: F.trim(x),
            ),
        )
        & (F.length(value) > 0)
        & (F.length(tag_list) > 0),
        F.lit(False),
    ),
    "str_length": F.length,
    "sub_str": lambda c, pos, ln: F.substring(c, pos, ln),
    "trim": F.trim,
    "rlike": lambda c, pat: c.rlike(pat),
    "regex_match": lambda c, pat, idx=0: F.regexp_extract(c, pat, idx),
    # date/time (DateAdd.java, DateDiff.java, FromUnixTime.java, …)
    "date_add": lambda c, n: F.date_add(c, n),
    # DateDiff accepts flexible date-string encodings (the shipped
    # supplychain.schema rules pass compact 'yyyyMMdd' strings, which a
    # bare CAST-to-date rejects) — try ISO then compact, null otherwise
    "date_diff": lambda a, b: F.datediff(_flex_date(a), _flex_date(b)),
    "date_format": lambda c, fmt: F.date_format(c, fmt),
    # FromUnixTime.java supports (seconds [, java format]) — the 2-arg
    # form appears in the shipped rules: from_unix_time(now(),'yyyyMMdd')
    "from_unix_time": lambda c, fmt=None: (
        F.from_unixtime(c) if fmt is None else F.from_unixtime(c, fmt)
    ),
    "from_unix_time_ms": lambda c: F.timestamp_millis(c.cast("long")),
    "unix_timestamp": F.unix_timestamp,
    "to_date": F.to_date,
    "to_timestamp": F.to_timestamp,
    "time_diff": lambda a, b: F.unix_timestamp(a) - F.unix_timestamp(b),
    "day_of_week": F.dayofweek,
    "hour_of_day": F.hour,
    # Now.java returns UNIX SECONDS (feeds from_unix_time in the shipped
    # rules); nondeterministic, no oracle
    "now": lambda: F.unix_timestamp(F.current_timestamp()),
    # TimeUdf.java:21 current_time_millis (nondeterministic; no oracle)
    "current_time_millis": lambda: F.unix_millis(F.current_timestamp()),
    "random": F.rand,  # Random.java (nondeterministic; no oracle)
    # math / misc (Abs.java, Cast.java, Hash.java, JsonStringGet.java, …)
    "abs": F.abs,
    "floor": F.floor,
    "ceil": F.ceil,
    "cast_type": lambda c, t: c.cast(t),
    "hash": F.xxhash64,
    "json_get": lambda c, path: F.get_json_object(c, f"$.{path}"),
    # ContextCapturer.java:22-28 — zip parallel key/value arrays into a
    # map, keys stringified, extra elements of the longer array dropped
    # (the reference loops to min(len(keys), len(values)))
    "context_capturer": lambda keys, values: F.map_from_arrays(
        F.slice(
            F.transform(keys, lambda k: k.cast("string")),
            1,
            F.least(F.size(keys), F.size(values)),
        ),
        F.slice(values, 1, F.least(F.size(keys), F.size(values))),
    ),
    # JsonStringGet.java:59-72 — session-RDF property lookup: find the
    # first key of the properties map containing 'basicInfo', parse its
    # value as JSON, return $.<prop>. fastjson tolerates single-quoted
    # JSON (the reference's own test feeds "{'v':'123'}"), so fall back
    # to a quote-normalized parse when the strict one yields nothing.
    "get_rdf_property": lambda props, prop: (
        lambda val: F.coalesce(
            F.get_json_object(val, f"$.{prop}"),
            F.get_json_object(F.regexp_replace(val, "'", '"'), f"$.{prop}"),
        )
    )(
        F.try_element_at(
            props,
            F.try_element_at(
                F.filter(F.map_keys(props), lambda k: k.contains("basicInfo")),
                F.lit(1),
            ),
        )
    ),
    "rule_value": lambda cond, a, b: F.when(cond, a).otherwise(b),
    # var-len path helpers (RepeatEdgeLength.java, RepeatReduce.java,
    # RepeatConstraint.java)
    "repeat_edge_length": F.size,
    "repeat_reduce": lambda arr, init, merge: F.aggregate(arr, init, merge),
    "repeat_constraint": lambda arr, pred: F.forall(
        F.zip_with(F.slice(arr, 1, F.size(arr) - 1), F.slice(arr, 2, F.size(arr) - 1), pred),
        lambda ok: ok,
    ),
    # exist(B)/exists(B): is the (optional) alias bound on this row
    # (exist_operator KGDSL.g4:604; TransitiveOptionalTest.java:1161 —
    # the bare-alias ref compiles to the alias vid column)
    "exist": lambda c: c.isNotNull(),
    "exists": lambda c: c.isNotNull(),
    # path/list ops (ListOpExpr / PathOpExpr — Expr.scala:125-145,
    # RuleExprParser.scala:516-650). Get is 0-based; a negative index
    # counts from the end (tail() parses to Get(-1) in the reference).
    "repeat_nodes": lambda arr: F.concat(
        F.array(arr[0]["src"]), F.transform(arr, lambda x: x["dst"])
    ),
    "list_get": lambda arr, i: F.element_at(
        arr, int(i) + 1 if int(i) >= 0 else int(i)
    ),
    # Slice(start, end): elements [start, end) 0-based
    "list_slice": lambda arr, a, b: F.slice(arr, int(a) + 1, int(b) - int(a)),
    "list_accumulate": lambda arr, op: (
        F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
        if op == "+"
        else F.aggregate(
            arr, F.lit(1.0), lambda acc, x: acc * x.cast("double")
        )
    ),
    "list_str_join": lambda arr, sep: F.array_join(
        F.transform(arr, lambda x: x.cast("string")), sep
    ),
}

# --------------------------------------------------------------------------
# aggregate functions (reference builtin/udaf/*.java — all mergeable
# partial/final UDAFs, i.e. native Spark aggregates)
# --------------------------------------------------------------------------

AGGREGATES: dict[str, Callable[..., Column]] = {
    "sum": F.sum,
    "avg": F.avg,
    "count": F.count,
    "count_distinct": F.countDistinct,
    "approx_count_distinct": F.approx_count_distinct,
    "min": F.min,
    "max": F.max,
    "first": F.first,
    # ConcatAgg.java — deterministic: sort before joining
    "concat_agg": lambda c, sep=",": F.concat_ws(sep, F.sort_array(F.collect_list(c))),
    # KeepShortestPath.java / KeepLongestPath.java — min/max by path length
    "keep_shortest_path": lambda path: F.min_by(path, F.size(path)),
    "keep_longest_path": lambda path: F.max_by(path, F.size(path)),
    # StrJoin — alias of concat_agg with custom sep
    "str_join": lambda c, sep: F.concat_ws(sep, F.sort_array(F.collect_list(c))),
    # Accumulate(op), op in {+, *} — list-accumulate fold
    # (Expr.scala:123; KGDSL.g4:332 accumulate_support_op: plus|asterisk)
    "accumulate": lambda c, op="+": {"+": F.sum, "*": F.product}[op](c),
    # deterministic collect: sorted, so oracle comparisons are stable
    "collect_list": lambda c: F.sort_array(F.collect_list(c)),
}


def _trans_count_by_day_agg(ts, time_unit="s", threshold=1, op="large"):
    """TransCountByDay.java:34-111 as a registry AGGREGATE: bucket the
    group's timestamps by day ('yyyyMMdd', session timezone — the
    reference uses TimeZone.getDefault(), DateUtils.java:25) and count
    the days whose event count is > threshold ('large') or < threshold
    ('small'); other ops raise, as in judgeThreshold. Single linear
    fold over the sorted day list (run-length encode + judge each
    completed run), so it stays one mergeable collect + one expression."""
    if op not in ("large", "small"):
        raise ValueError(f"{op} not impl")  # judgeThreshold parity
    div = {"s": 1, "ms": 1_000, "us": 1_000_000}
    if time_unit not in div:
        raise ValueError(f"time unit need in s/ms/us, but this is {time_unit}")
    sec = (ts.cast("long") / F.lit(div[time_unit])).cast("long")
    day = F.date_format(F.timestamp_seconds(sec), "yyyyMMdd")
    thr = F.lit(int(threshold))

    def judge(run):
        return run > thr if op == "large" else run < thr

    def step(acc, d):
        same = acc["prev"] == d
        return F.struct(
            d.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            (
                acc["hits"]
                + F.when(~same & (acc["run"] > 0) & judge(acc["run"]), 1).otherwise(0)
            ).alias("hits"),
        )

    return F.aggregate(
        F.sort_array(F.collect_list(day)),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("hits")
        ),
        step,
        lambda acc: (
            acc["hits"] + F.when((acc["run"] > 0) & judge(acc["run"]), 1).otherwise(0)
        ).cast("long"),
    )


AGGREGATES["trans_count_by_day"] = _trans_count_by_day_agg


def _order_edge_and_slice_sum_agg(c, order_op="desc", limit=1):
    """OrderEdgeAndSliceAgg.java:31-92: sort the group's values
    ('desc' reverses, anything else keeps ascending — matching the
    evaluate()'s Collections.sort + conditional reverse), take the
    first `limit`, sum as double."""
    lst = F.sort_array(
        F.collect_list(c.cast("double") if isinstance(c, Column) else F.col(c).cast("double")),
        asc=order_op != "desc",
    )
    return F.aggregate(
        F.slice(lst, 1, int(limit)), F.lit(0.0), lambda acc, x: acc + x
    )


AGGREGATES["order_edge_and_slice_sum"] = _order_edge_and_slice_sum_agg

# camelCase compatibility names the reference registers verbatim
# (@UdfDefine(name="dayOfWeek"/"hourOfDay"/"randomLong"))
SCALARS["dayOfWeek"] = SCALARS["day_of_week"]
SCALARS["hourOfDay"] = SCALARS["hour_of_day"]
# full signed-64-bit range like Random.nextLong() (F.rand alone has 53
# bits and never goes negative): hash a fresh random double
SCALARS["randomLong"] = lambda: F.xxhash64(F.rand())


# --------------------------------------------------------------------------
# public registration surface (@UdfDefine analog,
# /root/reference/reasoner/udf/src/main/java/com/antgroup/openspg/reasoner/udf/UdfMngFactory.java:
# the reference scans the classpath for @UdfDefine; here registration is
# an explicit decorator writing into the same dicts the engine reads)
# --------------------------------------------------------------------------


def register_scalar(name: str, *, replace: bool = False):
    """Decorator: register a Column-builder callable as a named scalar
    function. The callable must build Catalyst expressions (or a
    pandas_udf Column) — it is handed Columns and returns a Column."""

    def deco(fn: Callable[..., Column]) -> Callable[..., Column]:
        if name in SCALARS and not replace:
            raise ValueError(f"scalar {name!r} already registered")
        SCALARS[name] = fn
        return fn

    return deco


UDTFS: dict[str, Callable[..., Column]] = {
    # built-ins: each returns an ARRAY column; one output row per element
    # (BaseUdtf.process emitting N rows == an N-element array + explode)
    "split_to_rows": lambda c, sep=r"\s+": F.split(F.trim(c), sep),
    # ExpandLinkedAlipayStandardId.java:28-66 — identity link UDTF: emit
    # the id itself as the linked target, nothing when blank/null
    "expand_linked_alipay_id": lambda c: F.when(
        F.coalesce(F.trim(c) == "", F.lit(True)), F.array().cast("array<string>")
    ).otherwise(F.array(c.cast("string"))),
    "ngram_rows": lambda c, n=2: F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.size(F.split(F.trim(c), r"\s+")) - F.lit(n - 1), F.lit(1)),
        ),
        lambda i: F.array_join(F.slice(F.split(F.trim(c), r"\s+"), i, n), " "),
    ),
}


def register_udtf(name: str, *, replace: bool = False):
    """Decorator: register a table function (the @UdfDefine UDTF analog,
    BaseUdtf/LinkedUdtfResult). The callable builds an ARRAY Column —
    each element becomes one output row when ops.linked_expand explodes
    it JVM-side; an empty array drops the row (matching a UDTF whose
    process() emits nothing)."""

    def deco(fn: Callable[..., Column]) -> Callable[..., Column]:
        if name in UDTFS and not replace:
            raise ValueError(f"udtf {name!r} already registered")
        UDTFS[name] = fn
        return fn

    return deco


# --------------------------------------------------------------------------
# geo functions (builtin/udf/Geo*.java + udtf/GeoBufferAndConvert2S2CellId)
#
# The one pandas-UDF group in the registry: WKT geometry math is per-row
# scalar work with no Catalyst equivalent, so these are Arrow-batched
# pandas UDFs (the reference's versions are per-row JVM calls through
# JTS; Arrow batching is the Spark-idiomatic analog — never row-at-a-time
# Python). A per-batch parse memo makes the common literal-vs-column
# shape parse the literal once per batch.
# --------------------------------------------------------------------------


def _geo_binary_udf(kernel, ret_type):
    # ret_type is a DataType INSTANCE: a DDL string would need an active
    # SparkContext to parse at registry-import time
    from pyspark.sql.functions import pandas_udf

    from linkgraph import geo as _geo

    @pandas_udf(ret_type)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        memo: dict[str, object] = {}

        def parse(s):
            if s is None:
                return None
            g = memo.get(s, False)
            if g is False:
                try:
                    g = _geo.parse_wkt(s)
                except Exception:
                    g = None
                memo[s] = g
            return g

        out = []
        for s1, s2 in zip(a, b):
            g1, g2 = parse(s1), parse(s2)
            if g1 is None or g2 is None:
                out.append(None)  # reference UDFs return null on bad WKT
                continue
            try:
                out.append(kernel(_geo, g1, g2))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return _udf


def _geo_dist_kernel(geo, g1, g2):
    (x1, y1), (x2, y2) = geo.nearest_points(g1, g2)
    return geo.distance_m(y1, x1, y2, x2)


def _geo_shape_kernel(geo, g1, g2):
    return geo.intersects_shape_g(g1, g2)


def _geo_area_kernel(geo, g1, g2):
    return geo.intersects_area_g(g1, g2)


def _register_geo() -> None:
    # lazy: building a pandas_udf needs an active Spark context at call
    # time, but constructing the udf object is context-free, so these are
    # created once at import like every other registry entry
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        StringType,
    )

    def _lift2(udf):
        # rule front-ends hand literal args through as raw Python values
        # (a literal WKT polygon is the common shape in geo rules) — a
        # pandas_udf would read a raw str as a COLUMN NAME, so lift
        return lambda a, b: udf(
            a if isinstance(a, Column) else F.lit(a),
            b if isinstance(b, Column) else F.lit(b),
        )

    SCALARS["geo_distance"] = _lift2(_geo_binary_udf(_geo_dist_kernel, DoubleType()))
    SCALARS["geo_within"] = _lift2(
        _geo_binary_udf(lambda geo, g1, g2: geo.within(g1, g2), BooleanType())
    )
    SCALARS["geo_is_intersects"] = _lift2(
        _geo_binary_udf(lambda geo, g1, g2: geo.intersects(g1, g2), BooleanType())
    )
    SCALARS["geo_intersects_shape"] = _lift2(
        _geo_binary_udf(_geo_shape_kernel, StringType())
    )
    SCALARS["geo_intersects_area"] = _lift2(
        _geo_binary_udf(_geo_area_kernel, DoubleType())
    )

    from pyspark.sql.functions import pandas_udf

    from linkgraph import geo as _geo

    import math as _math

    @pandas_udf(ArrayType(StringType()))
    def _s2_udtf(wkt: pd.Series, meters: pd.Series) -> pd.Series:
        out = []
        for s, m in zip(wkt, meters):
            if s is None or (isinstance(s, str) and not s.strip()):
                out.append([])  # GeoBufferAndConvert2S2CellId.java:57-60
                continue
            if m is None or (isinstance(m, float) and _math.isnan(m)):
                # the reference THROWS for an empty distance (:63-66,
                # before its catch-and-forward-empty block) — a double
                # NULL arrives through Arrow as NaN, not None
                raise ValueError(
                    "geo_buffer_and_convert_2_s2CellId 2nd parameter "
                    "distance should not empty"
                )
            try:
                out.append(_geo.s2_covering_tokens(s, float(m)))
            except Exception:
                out.append([])  # :80-86 — forward empty on error
        return pd.Series(out)

    # UDTF contract: array column + linked_expand's JVM-side explode
    UDTFS["geo_buffer_and_convert_2_s2CellId"] = lambda wkt, meters: _s2_udtf(
        wkt if isinstance(wkt, Column) else F.lit(wkt),
        meters if isinstance(meters, Column) else F.lit(float(meters)),
    )


_register_geo()
