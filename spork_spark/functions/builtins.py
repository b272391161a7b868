"""Pig builtin function translation table → native pyspark Columns.

Every function in pig:src/org/apache/pig/builtin/ (SURVEY.md §2.4–2.5),
re-expressed as JVM-side Column expressions — builtins NEVER go through
Python UDFs (SURVEY.md §2.10), so everything here stays inside whole-stage
codegen.

Known semantic divergences handled here (SURVEY.md §2.5 flags):
- SUBSTRING: Pig is 0-based, stop-exclusive, null out-of-range
  (pig:src/org/apache/pig/builtin/SUBSTRING.java); Spark substring is
  1-based + length.
- INDEXOF / LAST_INDEX_OF: Pig 0-based, -1 missing; Spark locate 1-based,
  0 missing.
- ROUND: Pig = Java Math.round = floor(x+0.5) (→ -2.5 rounds to -2);
  Spark round is HALF_UP (→ -3). Compiled as floor(x+0.5).
- UCFIRST/LCFIRST: only the first char changes (initcap is NOT equivalent).
- REGEX_EXTRACT: null when no match (Spark returns '').
- matches: full-string anchored (handled in the expression compiler).
- int SUM promotes to long; int/long AVG returns double (Spark matches).

Registry shape: ``REGISTRY[name] -> callable(*Column) -> Column`` for
type-independent functions; ``TYPED_REGISTRY[name] -> callable(dtypes,
*Column) -> Column`` for the few whose semantics depend on the input Spark
type (SIZE, and the typed MIN/MAX families are subsumed by native min/max).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.column import Column

_MAX_LEN = 2147483647


# ---------------------------------------------------------------------------
# string functions
# ---------------------------------------------------------------------------

def _substring(s: Column, start: Column, stop: Column) -> Column:
    """Pig SUBSTRING(s, start, stop): 0-based, stop-exclusive, endIndex
    clamped to length, null if start out of range (SUBSTRING.java)."""
    ln = F.length(s)
    stop_c = F.least(stop, ln)
    out = F.substring(s, start + F.lit(1), F.greatest(stop_c - start, F.lit(0)))
    return F.when((start >= F.lit(0)) & (start <= ln) & (stop_c >= start), out)


def _locate(sub: Column, s: Column, pos1: Column) -> Column:
    """locate with Column position: emulate via substring search."""
    tail = F.substring(s, pos1, F.lit(_MAX_LEN))
    found = F.instr(tail, sub)          # 1-based in tail, 0 = missing
    return F.when(found > 0, found + pos1 - F.lit(1)).otherwise(F.lit(0))


def pig_indexof(s: Column, sub: Column, start: Column | None = None) -> Column:
    st1 = (start if start is not None else F.lit(0)) + F.lit(1)
    return _locate(sub, s, st1) - F.lit(1)


def pig_last_index_of(s: Column, sub: Column) -> Column:
    """Java lastIndexOf via reversed search: 0-based, -1 missing."""
    p = F.instr(F.reverse(s), F.reverse(sub))      # 1-based in reversed s
    return F.when(p > 0, F.length(s) - p - F.length(sub) + F.lit(1)) \
            .otherwise(F.lit(-1))


def _ucfirst(s: Column) -> Column:
    return F.concat(F.upper(F.substring(s, 1, 1)),
                    F.substring(s, 2, _MAX_LEN))


def _lcfirst(s: Column) -> Column:
    return F.concat(F.lower(F.substring(s, 1, 1)),
                    F.substring(s, 2, _MAX_LEN))


def _regex_extract(s: Column, regex: Column, idx: Column) -> Column:
    """Pig: matcher.find() → group(idx), null when no match. Spark
    regexp_extract returns '' on no-match → convert to null (divergence
    only for a group that legitimately matches empty — rare)."""
    ext = F.regexp_extract(s, _lit_str(regex), _lit_int(idx))
    return F.when(ext != "", ext)


def _regex_extract_all(s: Column, regex: Column) -> Column:
    """Pig REGEX_EXTRACT_ALL: all groups of ONE full match as a tuple.
    Full-string semantics (matcher.matches()); null when no match.
    Compiled as struct of per-group regexp_extract on the anchored regex."""
    rx = _lit_str(regex)
    n = _re.compile(rx).groups
    anchored = f"^(?:{rx})$" if not rx.startswith("^") else rx
    matched = s.rlike(anchored)
    groups = [F.regexp_extract(s, anchored, i + 1).alias(f"group_{i + 1}")
              for i in range(n)]
    return F.when(matched, F.struct(*groups))


def _tokenize(s: Column, *_ignored) -> Column:
    """Pig TOKENIZE: StringTokenizer with delimiters ``space " , ( ) *``
    → bag of single-field tuples {(token)} (TOKENIZE.java)."""
    parts = F.split(s, r'[ \t\n\r\f",()*]+')
    nonempty = F.filter(parts, lambda x: x != "")
    return F.transform(nonempty, lambda x: F.struct(x.alias("token")))


def _strsplit(s: Column, regex: Column | None = None,
              limit: Column | None = None) -> Column:
    rx = _lit_str(regex) if regex is not None else r"\s+"
    lim = _lit_int(limit) if limit is not None else -1
    return F.split(s, rx, lim)


def _strsplittobag(s: Column, regex: Column | None = None,
                   limit: Column | None = None) -> Column:
    arr = _strsplit(s, regex, limit)
    return F.transform(arr, lambda x: F.struct(x.alias("token")))


def _lit_str(c) -> str:
    """Extract a python string from a Lit-built Column (regexes/formats must
    be literals, as in Pig where they're constructor args)."""
    if isinstance(c, str):
        return c
    # Column built by F.lit(str): reach the literal through the expression.
    try:
        return c._jc.expr().eval(None)  # pragma: no cover (connect-safe fallback below)
    except Exception as exc:
        raise ValueError("regex/format arguments must be string literals") from exc


def _lit_int(c) -> int:
    if isinstance(c, int):
        return c
    try:
        return int(c._jc.expr().eval(None))  # pragma: no cover
    except Exception as exc:
        raise ValueError("argument must be an integer literal") from exc


# ---------------------------------------------------------------------------
# math
# ---------------------------------------------------------------------------

def _pig_round(x: Column) -> Column:
    """Java Math.round = floor(x + 0.5) → long (ROUND.java)."""
    return F.floor(x + F.lit(0.5)).cast("long")


def _round_to(x: Column, digits: Column, *mode) -> Column:
    # Pig ROUND_TO uses BigDecimal HALF_EVEN by default [LOW-CONF] →
    # Spark bround is HALF_EVEN.
    return F.bround(x, _lit_int(digits))


# ---------------------------------------------------------------------------
# datetime (Pig Joda-time builtins → java.time functions)
# ---------------------------------------------------------------------------

def _todate(x: Column, fmt: Column | None = None, tz: Column | None = None) -> Column:
    if fmt is None:
        return F.to_timestamp(x)
    pattern = _joda_to_java(_lit_str(fmt))
    ts = F.to_timestamp(x, pattern)
    if tz is not None:
        ts = F.to_utc_timestamp(ts, _lit_str(tz))
    return ts


def _joda_to_java(p: str) -> str:
    """Joda pattern → java.time pattern. Identical for the common letters
    (y M d H m s S E Z); Joda 'YYYY' (year-of-era) ≈ java 'yyyy'."""
    return p.replace("Y", "y")


def _dt_tostring(dt: Column, fmt: Column | None = None) -> Column:
    if fmt is None:
        return F.date_format(dt, "yyyy-MM-dd'T'HH:mm:ss.SSSxxx")
    return F.date_format(dt, _joda_to_java(_lit_str(fmt)))


def _tz_trunc_div(a: Column, b: Column, unit_seconds: float) -> Column:
    """Joda xxxBetween truncates toward zero — double div + cast(long).
    cast("timestamp") first: fixtures carry TIMESTAMP_NTZ, which
    unix_micros rejects (session TZ is UTC, so the cast is lossless)."""
    return ((F.unix_micros(a.cast("timestamp")) -
             F.unix_micros(b.cast("timestamp"))) /
            F.lit(unit_seconds * 1_000_000.0)).cast("long")


_DUR_RE = _re.compile(
    r"^(?P<sign>-)?P(?:(?P<y>\d+)Y)?(?:(?P<mo>\d+)M)?(?:(?P<w>\d+)W)?"
    r"(?:(?P<d>\d+)D)?(?:T(?:(?P<h>\d+)H)?(?:(?P<mi>\d+)M)?"
    r"(?:(?P<s>\d+(?:\.\d+)?)S)?)?$")


def _parse_iso_duration(s: str) -> dict:
    m = _DUR_RE.match(s)
    if not m:
        raise ValueError(f"bad ISO-8601 duration: {s!r}")
    g = {k: float(v) if v else 0.0 for k, v in m.groupdict(default="").items()
         if k != "sign"}
    sign = -1 if m.group("sign") else 1
    return {k: sign * v for k, v in g.items()}


def _add_duration(dt: Column, dur: Column, sign: int = 1) -> Column:
    """AddDuration(dt, 'P1DT2H') — ISO-8601 duration parsed at compile time
    (SURVEY.md §2.5: no Spark native; make_interval)."""
    d = _parse_iso_duration(_lit_str(dur))
    s = sign
    return dt + F.make_interval(
        F.lit(int(s * d["y"])), F.lit(int(s * d["mo"])), F.lit(int(s * d["w"])),
        F.lit(int(s * d["d"])), F.lit(int(s * d["h"])), F.lit(int(s * d["mi"])),
        F.lit(s * d["s"]))


def _sub_duration(dt: Column, dur: Column) -> Column:
    return _add_duration(dt, dur, sign=-1)


# ---------------------------------------------------------------------------
# type / structure
# ---------------------------------------------------------------------------

def _size_typed(dtypes: list[T.DataType], c: Column) -> Column:
    """Pig SIZE is type-dependent (SURVEY.md §2.5): #chars for chararray,
    #fields for tuple, #tuples for bag, #entries for map, #bytes for
    bytearray, 1 for numerics. Returns long."""
    dt = dtypes[0]
    if isinstance(dt, T.StringType):
        return F.length(c).cast("long")
    if isinstance(dt, T.BinaryType):
        return F.octet_length(c).cast("long")
    if isinstance(dt, T.StructType):
        return F.when(c.isNotNull(), F.lit(len(dt.fields))).cast("long")
    if isinstance(dt, (T.ArrayType, T.MapType)):
        sz = F.size(c)
        return F.when(sz >= 0, sz).cast("long")   # size(null) = -1 → null
    return F.when(c.isNotNull(), F.lit(1)).cast("long")


def _is_empty(c: Column) -> Column:
    return F.coalesce(F.size(c) == 0, F.lit(True))


def _diff(a: Column, b: Column) -> Column:
    """Pig DIFF(bag1, bag2): symmetric difference as a bag."""
    return F.concat(F.array_except(a, b), F.array_except(b, a))


def _bag_of(arr: Column) -> Column:
    """Wrap each element of an array in a 1-field tuple — Pig bags are
    bags OF TUPLES, so bag-returning builtins yield array<struct<t0>>
    (same field naming as TOBAG)."""
    return F.transform(arr, lambda x: F.struct(x.alias("t0")))


def _inversemap(m: Column) -> Column:
    """Pig INVERSEMAP (pig:src/org/apache/pig/builtin/INVERSEMAP.java,
    PIG-2600): swap keys with values; values sharing a key collect into
    a BAG of the original keys, and the output map's keys are the
    chararray form of the values — INVERSEMAP([open#apache, 1#2, 11#2])
    = [apache#{(open)}, 2#{(1),(11)}]. Divergence, documented: entries
    with a NULL value are dropped — a null inverted key is legal in
    Pig's backing HashMap but Spark's map type forbids null keys
    (NULL_MAP_KEY), found by the property fuzz."""
    ents = F.filter(F.map_entries(m), lambda e: e["value"].isNotNull())
    vals = F.array_distinct(
        F.transform(ents, lambda e: e["value"]))
    return F.map_from_arrays(
        F.transform(vals, lambda v: v.cast("string")),
        F.transform(vals, lambda v: _bag_of(F.transform(
            F.filter(ents, lambda e: e["value"] == v),
            lambda e: e["key"]))))


def _unique_id() -> Column:
    return F.concat(F.spark_partition_id().cast("string"), F.lit("-"),
                    F.monotonically_increasing_id().cast("string"))


# ---------------------------------------------------------------------------
# registries
# ---------------------------------------------------------------------------

REGISTRY: dict = {
    # -- aggregates (algebraic → Catalyst partial agg; SURVEY.md §2.4) -----
    "COUNT": lambda c: F.count(c),
    "COUNT_STAR": lambda *c: F.count(F.lit(1)),
    "SUM": lambda c: F.sum(c),
    "AVG": lambda c: F.avg(c),
    "MIN": lambda c: F.min(c),
    "MAX": lambda c: F.max(c),
    "VAR": lambda c: F.var_samp(c),
    "COR": lambda a, b: F.corr(a, b),
    "COV": lambda a, b: F.covar_samp(a, b),
    "COUNT_DISTINCT": lambda *c: F.count_distinct(*c),
    "SUM_DISTINCT": lambda c: F.sum_distinct(c),
    "APPROX_COUNT_DISTINCT": lambda c: F.approx_count_distinct(c),
    "COLLECT": lambda c: F.collect_list(c),
    # analytic aggregates beyond the reference (extensions; exact
    # PERCENTILE uses linear interpolation = SQL percentile_cont)
    "PERCENTILE": lambda c, p: F.percentile(c, p),
    "MEDIAN": lambda c: F.median(c),
    "STDEV": lambda c: F.stddev_samp(c),

    # -- strings ------------------------------------------------------------
    "CONCAT": lambda *cs: F.concat(*cs),
    "LOWER": F.lower,
    "UPPER": F.upper,
    "TRIM": F.trim,
    "LTRIM": F.ltrim,
    "RTRIM": F.rtrim,
    "SUBSTRING": _substring,
    "INDEXOF": pig_indexof,
    "LAST_INDEX_OF": pig_last_index_of,
    "REPLACE": lambda s, rx, rep: F.regexp_replace(s, _lit_str(rx), _lit_str(rep)),
    "REGEX_EXTRACT": _regex_extract,
    "REGEX_EXTRACT_ALL": _regex_extract_all,
    "STRSPLIT": _strsplit,
    "STRSPLITTOBAG": _strsplittobag,
    "TOKENIZE": _tokenize,
    "SPRINTF": lambda fmt, *cs: F.format_string(_lit_str(fmt), *cs),
    "STARTSWITH": lambda s, p: s.startswith(p),
    "ENDSWITH": lambda s, p: s.endswith(p),
    "EQUALSIGNORECASE": lambda a, b: F.lower(a) == F.lower(b),
    "UCFIRST": _ucfirst,
    "LCFIRST": _lcfirst,

    # -- math ----------------------------------------------------------------
    "ABS": F.abs,
    # Pig CEIL/FLOOR return double (CEIL.java/FLOOR.java); Spark's return long
    "CEIL": lambda c: F.ceil(c).cast("double"),
    "FLOOR": lambda c: F.floor(c).cast("double"),
    "ROUND": _pig_round,
    "ROUND_TO": _round_to,
    "SQRT": F.sqrt,
    "CBRT": F.cbrt,
    "EXP": F.exp,
    "LOG": F.log,
    "LOG10": F.log10,
    "RANDOM": lambda: F.rand(),
    # hashing (extension — reproducible sampling / fingerprints; not in
    # Pig core, piggybank-era territory). Input cast to string bytes so the
    # digest matches other engines (DuckDB md5(text)) byte-for-byte.
    "MD5": lambda c: F.md5(c.cast("string").cast("binary")),
    "SHA256": lambda c: F.sha2(c.cast("string").cast("binary"), 256),
    "ACOS": F.acos, "ASIN": F.asin, "ATAN": F.atan,
    "COS": F.cos, "COSH": F.cosh, "SIN": F.sin, "SINH": F.sinh,
    "TAN": F.tan, "TANH": F.tanh,

    # -- datetime -------------------------------------------------------------
    "TODATE": _todate,
    "TOSTRING_DT": _dt_tostring,
    # cast("timestamp"): fixtures are TIMESTAMP_NTZ (session TZ UTC)
    "TOUNIXTIME": lambda dt: F.unix_timestamp(dt.cast("timestamp")),
    "TOMILLISECONDS": lambda dt: F.unix_millis(dt.cast("timestamp")),
    "CURRENTTIME": lambda: F.current_timestamp(),
    "GETYEAR": F.year,
    "GETMONTH": F.month,
    "GETDAY": F.dayofmonth,
    "GETHOUR": F.hour,
    "GETMINUTE": F.minute,
    "GETSECOND": F.second,
    "GETMILLISECOND": lambda dt: F.date_format(dt, "SSS").cast("int"),
    "GETWEEK": F.weekofyear,
    # ISO week-based year = calendar year of that week's Thursday (the
    # Joda weekyear() contract). Spark 4 rejects the 'YYYY' pattern, so
    # compute it directly: ISO dow (Mon=1..Sun=7) from dayofweek
    # (Sun=1..Sat=7), then shift to Thursday.
    "GETWEEKYEAR": lambda dt: F.year(F.date_add(
        dt.cast("date"), F.lit(4) - ((F.dayofweek(dt) + 5) % 7 + 1))),
    "ADDDURATION": _add_duration,
    "SUBTRACTDURATION": _sub_duration,
    "YEARSBETWEEN": lambda a, b: (F.months_between(a, b) / 12).cast("long"),
    "MONTHSBETWEEN": lambda a, b: F.months_between(a, b).cast("long"),
    "WEEKSBETWEEN": lambda a, b: _tz_trunc_div(a, b, 604800.0),
    "DAYSBETWEEN": lambda a, b: _tz_trunc_div(a, b, 86400.0),
    "HOURSBETWEEN": lambda a, b: _tz_trunc_div(a, b, 3600.0),
    "MINUTESBETWEEN": lambda a, b: _tz_trunc_div(a, b, 60.0),
    "SECONDSBETWEEN": lambda a, b: _tz_trunc_div(a, b, 1.0),
    "MILLISECONDSBETWEEN": lambda a, b: _tz_trunc_div(a, b, 0.001),

    # -- type / structure -------------------------------------------------------
    "TOTUPLE": lambda *cs: F.struct(*cs),
    # Pig TOBAG({(x),(y),...}): each arg becomes a 1-field tuple. The
    # struct field name must be uniform or array() rejects the mix
    # (a bare column keeps its name, an expression gets colN).
    "TOBAG": lambda *cs: F.array(*[F.struct(c.alias("t0")) for c in cs]),
    "TOMAP": lambda *cs: F.create_map(*cs),
    "ISEMPTY": _is_empty,
    # map builtins (PIG-2600, pig:src/org/apache/pig/builtin/{KEYSET,
    # VALUELIST,VALUESET,INVERSEMAP}.java): bags of keys / values /
    # distinct values, and the value→bag-of-keys inversion. All native
    # higher-order Column expressions — no shuffle, no Python.
    "KEYSET": lambda m: _bag_of(F.map_keys(m)),
    "VALUELIST": lambda m: _bag_of(F.map_values(m)),
    "VALUESET": lambda m: _bag_of(F.array_distinct(F.map_values(m))),
    "INVERSEMAP": _inversemap,
    "DIFF": _diff,
    "SUBTRACT": lambda a, b: F.array_except(a, b),
    # BAGTOSTRING lives in TYPED_REGISTRY (needs the element type to
    # flatten tuple fields per Pig BagToString semantics).
    "UNIQUEID": _unique_id,
    "TOSTRING": _dt_tostring,

    # -- engine-internal helpers ------------------------------------------------
    "COALESCE": lambda *cs: F.coalesce(*cs),
    # CUBE/ROLLUP grouping-set id (disambiguates null-fill from real-null
    # dims — extension; the reference's CubeDimensions can't distinguish).
    "GROUPING_ID": lambda *cs: F.grouping_id(*cs),
    "COALESCE_BOOL": lambda c: F.coalesce(c, F.lit(False)),

    # -- JSON extensions (events.props; SURVEY.md §2.5 JSON note) ---------------
    "GET_JSON_OBJECT": lambda c, p: F.get_json_object(c, _lit_str(p)),
    "JSON_TUPLE": lambda c, *ps: F.json_tuple(c, *[_lit_str(p) for p in ps]),
}

def _bag_to_tuple(dtypes: list[T.DataType], bag: Column) -> Column:
    """BagToTuple flattens bag contents into one variable-arity tuple;
    Spark structs are fixed-arity, so the faithful mapping is an array of
    the tuples' first-field values (documented divergence)."""
    dt = dtypes[0]
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        f0 = dt.elementType.fields[0].name
        return F.transform(bag, lambda t: t[f0])
    return bag


def _top(dtypes: list[T.DataType], n: Column, idx: Column,
         bag: Column) -> Column:
    """TOP(n, fieldIdx, bag) → bag of the n tuples with the largest idx-th
    field (pig:src/org/apache/pig/builtin/TOP.java — priority-queue over
    the bag). Here: array_sort with a descending comparator on that field
    + slice, all codegen'd; ties break arbitrarily, as in the reference."""
    dt = dtypes[2]
    nv, iv = _lit_int(n), _lit_int(idx)
    if not (isinstance(dt, T.ArrayType)
            and isinstance(dt.elementType, T.StructType)):
        raise TypeError("TOP expects a bag of tuples as its third argument")
    fname = dt.elementType.fields[iv].name
    ordered = F.array_sort(
        bag, lambda a, b: F.when(a[fname] < b[fname], 1)
                           .when(a[fname] > b[fname], -1).otherwise(0))
    return F.slice(ordered, 1, nv)


def _todate_typed(dtypes, x, fmt=None, tz=None) -> Column:
    """ToDate(long) interprets the value as epoch MILLISECONDS (Joda
    instant, pig:src/org/apache/pig/builtin/ToDate.java) — Spark's
    to_timestamp(long) would read it as seconds. String inputs parse."""
    if fmt is None and dtypes and isinstance(
            dtypes[0], (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return F.timestamp_millis(x.cast("long"))
    return _todate(x, fmt, tz)


def _bag_to_string_typed(dtypes, bag: Column, d=None) -> Column:
    """Pig BagToString (pig:src/org/apache/pig/builtin/BagToString.java):
    flatten the bag — every field of every tuple — joined with the
    delimiter. Bag projections arrive as array<struct<…>> (Pig's bag of
    tuples), so struct elements join their fields with the same delim."""
    from pyspark.sql import types as T
    delim = _lit_str(d) if d is not None else "_"
    et = dtypes[0].elementType if dtypes and \
        isinstance(dtypes[0], T.ArrayType) else None
    if isinstance(et, T.StructType):
        names = [f.name for f in et.fields]
        return F.array_join(
            F.transform(bag, lambda t: F.concat_ws(
                delim, *[t[n].cast("string") for n in names])), delim)
    return F.array_join(F.transform(bag, lambda t: t.cast("string")), delim)


# Type-dependent builtins: callable(dtypes: list[DataType], *cols) -> Column
TYPED_REGISTRY: dict = {
    "SIZE": _size_typed,
    "BAGTOTUPLE": _bag_to_tuple,
    "TOP": _top,
    "TODATE": _todate_typed,
    "BAGTOSTRING": _bag_to_string_typed,
}

# Aggregate names the GROUP+FOREACH fusion treats as algebraic
# (SURVEY.md §4.3) — map straight to Catalyst partial aggregation.
ALGEBRAIC_AGGS = {
    "COUNT", "COUNT_STAR", "SUM", "AVG", "MIN", "MAX", "VAR", "COR", "COV",
    "COUNT_DISTINCT", "SUM_DISTINCT", "APPROX_COUNT_DISTINCT", "COLLECT",
    "PERCENTILE", "MEDIAN", "STDEV",
    # grouping-set id is evaluated inside the Aggregate (fused path only)
    "GROUPING_ID",
}

# Bag-level functions the aggregate fusions cannot fuse: the bag
# higher-order functions nested-FOREACH inner operators compile to
# (SURVEY.md §2.3), and TOP. A generator calling one needs the
# materialized bag.
BAG_HOFS = frozenset({
    "FILTER_BAG", "TRANSFORM_BAG", "FOREACH_BAG", "SORT_BAG", "LIMIT_BAG",
    "DISTINCT_BAG", "CROSS_BAG", "TOP",
})
