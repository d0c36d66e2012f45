"""Grok/regex parse of page text into typed log records.

Receiver→first-processor analog: the reference's receivers decode OTLP
payloads into pdata (receiver/otlpreceiver/internal/logs/otlp.go:43-55);
here the "payload" is a web page's extracted ``text`` and the decode is a
line-level grok parse into the plog-shaped LOG_RECORDS_SCHEMA
(pdata/plog/generated_logrecord.go:57-145).

Two engines, identical output (tests assert byte equality):

- ``engine="sql"`` (default): split → posexplode → regexp_extract, 100%
  JVM whole-stage-codegen expressions. Catalyst prunes the scan to the four
  needed columns and pushes any upstream filter below the explode. This is
  the 100 TB path — zero Python in the loop.
- ``engine="arrow"``: mapInPandas with precompiled regexes over Arrow
  batches (vectorized pandas str ops, no per-row Python). Kept as the
  reference implementation of the north-star's pandas/Arrow UDF surface and
  as the template for parsers Spark expressions can't express.

Per-row invariant: ``body`` is the raw line, byte-identical
(BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import LOG_RECORDS_SCHEMA, SEVERITY_NUMBER

# FIXTURES.md §2 grammar
ACCESS_RE = (
    r'^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}) - - \[([^\]]+)\] '
    r'"(GET|POST|PUT|DELETE|HEAD) (\S+) HTTP/[0-9.]+" (\d{3}) (\d+)$'
)
APPLOG_RE = (
    r'^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z) '
    r'(TRACE|DEBUG|INFO|WARN|ERROR|FATAL)[2-4]? \[([^\]]+)\]'
)
TRACE_ID_RE = r'trace_id=([0-9a-f]{32})'
SPAN_ID_RE = r'span_id=([0-9a-f]{16})'
KV_RE = r'^\w+=(?:"[^"]*"|\S*)(?: \w+=(?:"[^"]*"|\S*))*$'
KV_KEY_RE = r'(\w+)=(?:"[^"]*"|\S*)'
KV_VAL_RE = r'\w+=("[^"]*"|\S*)'
CLF_TS_FMT = "dd/MMM/yyyy:HH:mm:ss Z"

HOST_RE = r'^[a-z][a-z0-9+.-]*://([^/:?#]+)'


def _severity_map_col() -> Column:
    flat: list[Column] = []
    for k, v in SEVERITY_NUMBER.items():
        flat += [F.lit(k), F.lit(v)]
    return F.create_map(*flat)


def host_from_url(url: Column) -> Column:
    return F.regexp_extract(url, HOST_RE, 1)


def explode_lines(pages: DataFrame) -> DataFrame:
    """pages → one row per non-empty line, carrying (url, warc_ts, lang,
    host, line_no, line). Narrow transformation — no shuffle."""
    return (
        pages
        .select(
            "url", "warc_ts", "lang",
            host_from_url(F.col("url")).alias("host"),
            F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n")).alias("line_no", "line"),
        )
        .where(F.length("line") > 0)
    )


_DELIM = "\x01"
# applog with the trailing message captured so one regex pass yields all
# prefix groups; trace/span ids are then extracted from the (short) tail.
# The tail is OPTIONAL — a header-only line ("TS LEVEL [comp]") is a valid
# applog record with an empty message; when group 4 doesn't participate,
# Java's regexp_replace substitutes "" for $4, so the packed array always
# has 4 elements and no element_at can fail under ANSI mode. is_applog is
# derived from THIS regex (not the prefix-only APPLOG_RE) so a line whose
# prefix matches but whose full shape doesn't (e.g. "...[comp]junk") is
# classified unparsed instead of crashing the group unpack.
APPLOG_FULL_RE = (
    r'^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z) '
    r'((?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)[2-4]?) \[([^\]]+)\](?: (.*))?$'
)


def _sql_record_columns(hot_columns: bool = False) -> list[Column]:
    """The sql engine's record columns over ``explode_lines`` output. They
    refer to columns by name only, so one list serves every frame."""
    line = F.col("line")
    # Lines containing the packing delimiter cannot round-trip the
    # single-pass group extraction below; both engines treat them as
    # unparsed noise (they are outside every grammar anyway).
    clean = ~line.contains(_DELIM)
    is_access = clean & line.rlike(ACCESS_RE)
    is_applog = clean & line.rlike(APPLOG_FULL_RE)
    is_kv = clean & line.rlike(KV_RE)

    # Single-pass group extraction: ONE regexp_replace packs all capture
    # groups into a delimited string, ONE split unpacks them — instead of
    # re-running the (expensive, per-group) regex once per field. This is
    # the hot-path optimization for the 100 TB scan: 2 regex executions per
    # line instead of 8 on the dominant access-log grammar.
    acc = F.split(
        F.regexp_replace(line, ACCESS_RE, _DELIM.join(f"${i}" for i in range(1, 7))), _DELIM
    )
    app = F.split(
        F.regexp_replace(line, APPLOG_FULL_RE, _DELIM.join(f"${i}" for i in range(1, 5))), _DELIM
    )
    app_tail = F.element_at(app, 4)

    # try_* variants: malformed timestamps yield NULL→0 instead of failing
    # the task (permanent-error analog, consumer/consumererror/permanent.go)
    clf_ts = F.try_to_timestamp(F.element_at(acc, 2), F.lit(CLF_TS_FMT))
    iso_ts = F.try_to_timestamp(F.element_at(app, 1))
    ts = F.when(is_access, clf_ts).when(is_applog, iso_ts)
    time_unix_nano = F.coalesce(F.unix_micros(ts) * F.lit(1000), F.lit(0)).cast("long")

    level = F.when(is_applog, F.element_at(app, 2)).otherwise(F.lit(""))
    severity_number = F.coalesce(
        F.element_at(_severity_map_col(), F.nullif(level, F.lit(""))), F.lit(0)
    ).cast("int")

    # attributes: build entry arrays per grammar, filter null values,
    # map_from_entries — AsString coercion (value.go:361-395) is identity
    # for our all-string fields; ints arrive as their decimal string form.
    access_entries = F.array(
        F.struct(F.lit("ip").alias("key"), F.element_at(acc, 1).alias("value")),
        F.struct(F.lit("method").alias("key"), F.element_at(acc, 3).alias("value")),
        F.struct(F.lit("path").alias("key"), F.element_at(acc, 4).alias("value")),
        F.struct(F.lit("status").alias("key"), F.element_at(acc, 5).alias("value")),
        F.struct(F.lit("bytes").alias("key"), F.element_at(acc, 6).alias("value")),
    )
    applog_entries = F.array(
        F.struct(F.lit("component").alias("key"), F.element_at(app, 3).alias("value")),
    )
    kv_keys = F.regexp_extract_all(line, F.lit(KV_KEY_RE), 1)
    kv_vals = F.transform(
        F.regexp_extract_all(line, F.lit(KV_VAL_RE), 1),
        lambda v: F.regexp_replace(v, r'^"|"$', ""),
    )
    kv_entries = F.zip_with(
        kv_keys, kv_vals, lambda k, v: F.struct(k.alias("key"), v.alias("value"))
    )
    # Last-wins fold instead of map_from_entries: a repeated key ("a=1 a=2")
    # would abort the job under the session's mapKeyDedupPolicy=EXCEPTION
    # default, while the Arrow engine's dict comprehension silently
    # last-wins — the fold makes both engines last-win.  kv_entries is
    # referenced once (aggregate input), so no lambda-CSE recompute.
    empty_attrs = F.map_from_entries(F.array().cast("array<struct<key:string,value:string>>"))
    kv_map = F.aggregate(
        kv_entries,
        empty_attrs,
        lambda acc, x: F.map_concat(
            F.map_filter(acc, lambda k, _: k != x.getField("key")),
            F.create_map(x.getField("key"), x.getField("value")),
        ),
    )
    attributes = (
        F.when(is_access, F.map_from_entries(access_entries))
        .when(is_applog, F.map_from_entries(applog_entries))
        .when(is_kv, kv_map)
        .otherwise(empty_attrs)
    )

    # trace/span ids live in the applog tail — run the small regexes on the
    # short remainder only, and only for applog lines
    trace_id = F.when(is_applog, F.regexp_extract(app_tail, TRACE_ID_RE, 1)).otherwise(F.lit(""))
    span_id = F.when(is_applog, F.regexp_extract(app_tail, SPAN_ID_RE, 1)).otherwise(F.lit(""))

    out_cols = [
        F.col("url"),
        time_unix_nano.alias("time_unix_nano"),
        F.col("warc_ts").alias("observed_ts"),
        severity_number.alias("severity_number"),
        level.alias("severity_text"),
        F.col("line").alias("body"),
        attributes.alias("attributes"),
        trace_id.alias("trace_id"),
        span_id.alias("span_id"),
        F.lit(0).cast("int").alias("flags"),
        F.lit(0).cast("int").alias("dropped_attributes_count"),
        F.struct(F.col("host").alias("host"), F.col("lang").alias("lang")).alias("resource"),
        F.col("line_no").cast("int").alias("line_no"),
    ]
    if hot_columns:
        # hot attributes promoted to typed top-level columns (SURVEY.md
        # §1.2): downstream filters/routes on these never materialize the
        # attributes map, so Catalyst prunes the whole map build out of
        # plans that don't project it
        out_cols += [
            F.when(is_access, F.element_at(acc, 5).cast("int")).alias("attr_status"),
            F.when(is_access, F.element_at(acc, 3)).alias("attr_method"),
            F.when(is_applog, F.element_at(app, 3)).alias("attr_component"),
        ]
    return out_cols


# --- Arrow engine -----------------------------------------------------------

# re.ASCII: Java regex character classes (\w \d \s) are ASCII-only by
# default, Python's are Unicode-aware — without the flag the two engines
# disagree on lines like '²=' (Python \w matches superscript digits, Java
# does not). The grammar is defined over ASCII classes; both engines must
# read it that way.
_ACCESS_CRE = re.compile(ACCESS_RE, re.ASCII)
_APPLOG_FULL_CRE = re.compile(APPLOG_FULL_RE, re.ASCII)
_TRACE_CRE = re.compile(TRACE_ID_RE, re.ASCII)
_SPAN_CRE = re.compile(SPAN_ID_RE, re.ASCII)
_KV_CRE = re.compile(KV_RE, re.ASCII)
_KV_PAIR_CRE = re.compile(r'(\w+)=("[^"]*"|\S*)', re.ASCII)
_UNQUOTE_CRE = re.compile(r'^"|"$')


def _parse_chunk_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized parse of an exploded-lines Arrow batch (pandas str ops)."""
    line = pdf["line"]
    clean = ~line.str.contains(_DELIM, regex=False)
    acc = line.str.extract(_ACCESS_CRE)
    # full-shape match (tail optional) — identical classification to the
    # SQL engine's is_applog, incl. header-only and trailing-junk lines
    app = line.str.extract(_APPLOG_FULL_CRE)
    lvl = app[1]
    app_tail = app[3].fillna("")
    is_access = acc[0].notna() & clean
    is_applog = app[0].notna() & clean
    is_kv = line.str.match(_KV_CRE) & clean & ~is_access & ~is_applog

    ts = pd.Series(pd.NaT, index=pdf.index, dtype="datetime64[ns, UTC]")
    if is_access.any():
        ts.loc[is_access] = pd.to_datetime(
            acc.loc[is_access, 1], format="%d/%b/%Y:%H:%M:%S %z", errors="coerce", utc=True
        )
    if is_applog.any():
        # format="ISO8601", not inference: pandas 2 infers the format
        # from the FIRST element and coerces the rest, so a batch mixing
        # whole-second and fractional timestamps would NaT the minority
        # shape (the SQL engine parses each line independently)
        ts.loc[is_applog] = pd.to_datetime(
            app.loc[is_applog, 0], format="ISO8601", errors="coerce", utc=True
        )
    nano_raw = ts.fillna(pd.Timestamp(0, tz="UTC")).astype("int64")
    # truncate to whole microseconds: the SQL engine goes through
    # unix_micros()*1000, so sub-µs fractional digits (7+ in the line)
    # must not survive here either — engine byte-parity
    nano = (nano_raw // 1000 * 1000).where(ts.notna(), 0).astype("int64")

    sev_text = lvl.where(is_applog, "").fillna("")
    sev_num = sev_text.map(SEVERITY_NUMBER).fillna(0).astype("int32")

    def _attrs(i: int) -> dict:
        s = line.iat[i]
        if is_access.iat[i]:
            m = _ACCESS_CRE.match(s)
            return {"ip": m.group(1), "method": m.group(3), "path": m.group(4),
                    "status": m.group(5), "bytes": m.group(6)}
        if is_applog.iat[i]:
            m = _APPLOG_FULL_CRE.match(s)
            return {"component": m.group(3)}
        if is_kv.iat[i]:
            # _UNQUOTE_CRE, not str.strip('"'): the SQL engine strips at
            # most ONE quote per end ('^"|"$'), so 'abc""' → 'abc"'
            return {k: _UNQUOTE_CRE.sub("", v) for k, v in _KV_PAIR_CRE.findall(s)}
        return {}

    attributes = [_attrs(i) for i in range(len(pdf))]
    # ids are searched in the message tail only (SQL-engine parity: a
    # trace_id= inside the [component] must NOT be picked up)
    tid = app_tail.str.extract(_TRACE_CRE)[0].where(is_applog, "").fillna("")
    sid = app_tail.str.extract(_SPAN_CRE)[0].where(is_applog, "").fillna("")

    return pd.DataFrame(
        {
            "url": pdf["url"],
            "time_unix_nano": nano,
            "observed_ts": pdf["warc_ts"],
            "severity_number": sev_num,
            "severity_text": sev_text,
            "body": line,
            "attributes": attributes,
            "trace_id": tid,
            "span_id": sid,
            "flags": 0,
            "dropped_attributes_count": 0,
            "resource": [
                {"host": h, "lang": l} for h, l in zip(pdf["host"], pdf["lang"])
            ],
            "line_no": pdf["line_no"].astype("int32"),
        }
    )


def _parse_lines_arrow(lines: DataFrame) -> DataFrame:
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield _parse_chunk_pandas(pdf)

    return lines.mapInPandas(run, schema=LOG_RECORDS_SCHEMA)


def parse_pages(
    pages: DataFrame, engine: str = "sql", hot_columns: bool = False
) -> DataFrame:
    """pages → log_records (LOG_RECORDS_SCHEMA). See module docstring.

    ``hot_columns=True`` (sql engine) appends promoted typed columns
    (attr_status/attr_method/attr_component) for map-free routing.
    """
    lines = explode_lines(pages)
    if engine == "sql":
        return lines.select(*_sql_record_columns(hot_columns))
    if engine == "arrow":
        if hot_columns:
            raise ValueError("hot_columns is a sql-engine feature")
        return _parse_lines_arrow(lines)
    raise ValueError(f"unknown parse engine: {engine!r}")


def pages_parser(engine: str) -> Callable[[DataFrame], DataFrame]:
    """``parse_pages`` as a pipeline stage, which runs once per epoch: the
    sql engine's expressions are built once here, not on every call
    (building them takes ~1,500 JVM calls, about 0.25 s on a 4-core host)."""
    if engine != "sql":
        return lambda pages: parse_pages(pages, engine=engine)
    cols = _sql_record_columns()
    return lambda pages: explode_lines(pages).select(*cols)
