"""SQL-statement control surface — drop-in parity with the reference's API.

The reference is driven entirely through SQL (README.md:52-110): endpoint
management and consumption via ``SELECT pipeline_kinesis.<fn>(...)`` calls
(pipeline_kinesis--0.9.0.sql:33-82), streams and continuous views via
PipelineDB DDL (``CREATE STREAM`` / ``CREATE CONTINUOUS VIEW`` /
``ACTIVATE``). ``execute(engine, statement)`` accepts those exact
statements, routes control-plane calls to the Engine's Python API on the
driver (control flow never rides a distributed UDF), and hands everything
else to ``Engine.sql`` — so a user's existing migration/ops script runs
unmodified.

Supported surface:

- ``SELECT pipeline_kinesis.add_endpoint(name, region, credfile, url)``
- ``SELECT pipeline_kinesis.remove_endpoint(name)``
- ``SELECT pipeline_kinesis.consume_begin(endpoint, stream, relation,
  format, delimiter, quote, escape, batchsize, parallelism, start_seq)``
  — ``start_seq`` follows the reference's encoding (pipeline_kinesis.c:
  588-605): -2 → trim_horizon, -1 → latest; NULL defaults to -1 = latest
  (kinesis_consume_begin_sr, pipeline_kinesis.c:922-925).
- ``SELECT pipeline_kinesis.consume_end(endpoint, stream, relation)``
- ``SELECT pipeline_kinesis.consume_begin()`` / ``consume_end()`` (all)
- ``SELECT pipeline_kinesis.replay_dead_letters(relation [, format,
  delimiter, quote, escape, schema_ddl])`` — A13 quarantine recovery;
  returns the recovered-row count. ``schema_ddl => 'col type, ...'``
  re-parses under a pre-``ALTER STREAM`` schema (prefix of the declared
  schema; PG or Spark column types)
- ``CREATE STREAM s (col pgtype, ...)`` — PG types mapped to Spark DDL
- ``CREATE CONTINUOUS VIEW v [WITH (ttl='N seconds', ttl_column='c',
  materialize='memory|parquet_upsert', key_cols='a,b',
  sw='1 hour', sw_step='3 minutes', upsert_buckets=N,
  osrel_keep_batches=N, watermark='10 minutes',
  watermark_column='ts', output_mode='append')] AS SELECT ...``
  — the source stream is inferred from the FROM clause; a FROM of
  ``output_of('v')`` (or ``<v>_osrel``) chains on view v's delta stream
- ``CREATE CONTINUOUS TRANSFORM t AS SELECT ...`` — output rows append to
  the ``<t>_output`` relation (PipelineDB's output_of stream analog);
  transforms may also read ``output_of('v')``
- ``SELECT g, combine(alias) FROM v GROUP BY g`` in ad-hoc reads —
  PipelineDB's re-aggregation over matrel partials (engine.sql rewrite)
- catalog relations: ``pipeline_queries``, ``pipeline_query_stats``,
  ``pipeline_kinesis.seqnums``, ``<v>_osrel`` delta history
- ``DROP CONTINUOUS VIEW|TRANSFORM`` / ``DROP STREAM`` /
  ``ACTIVATE name`` / ``DEACTIVATE name``
- anything else → ``Engine.sql`` (ad-hoc reads; ``pipeline_kinesis.
  seqnums`` resolves to the live progress relation)

Named-argument notation (``name := value`` / ``name => value``) is
accepted anywhere PostgreSQL accepts it.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame

from pipeline_kinesis_spark.catalog import rewrite_output_of

# PG type → Spark DDL type (the subset PipelineDB stream DDL uses)
_PG_TYPES = {
    "text": "STRING",
    "varchar": "STRING",
    "int": "INT",
    "int4": "INT",
    "integer": "INT",
    "bigint": "BIGINT",
    "int8": "BIGINT",
    "smallint": "SMALLINT",
    "real": "FLOAT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "numeric": "DECIMAL(38,18)",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
    "date": "DATE",
    "json": "STRING",
    "jsonb": "STRING",
}

_FN_CALL = re.compile(
    r"^\s*SELECT\s+pipeline_kinesis\.(\w+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# extension version parity (pipeline_kinesis.control: default_version)
_VERSION_CALL = re.compile(
    r"^\s*SELECT\s+pipeline_version\s*\(\s*\)\s*;?\s*$", re.IGNORECASE
)
# PipelineDB's manual TTL sweep: SELECT pipeline_ttl_expire('view')
_TTL_EXPIRE = re.compile(
    r"^\s*SELECT\s+pipeline_ttl_expire\s*\(\s*'(\w+)'\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
# ops hammer for resizing an upsert store's hash-bucket layout:
# SELECT pipeline_rebucket('view', n)
_REBUCKET = re.compile(
    r"^\s*SELECT\s+pipeline_rebucket\s*\(\s*'(\w+)'\s*,\s*(\d+)\s*\)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
PIPELINE_VERSION = "pipeline_kinesis_spark (pipeline_kinesis 0.9.0 parity)"


def _split_args(argstr: str) -> list[str]:
    """Split a call's argument list on top-level commas (quote-aware)."""
    out, depth, cur, i = [], 0, [], 0
    in_str = False
    while i < len(argstr):
        c = argstr[i]
        if in_str:
            cur.append(c)
            if c == "'":
                if i + 1 < len(argstr) and argstr[i + 1] == "'":
                    cur.append("'")
                    i += 1  # escaped quote
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _parse_value(tok: str) -> Any:
    t = tok.strip()
    if t.upper() == "NULL":
        return None
    if t.upper() in ("TRUE", "FALSE"):
        return t.upper() == "TRUE"
    if t.startswith("'") and t.endswith("'"):
        return t[1:-1].replace("''", "'")
    if re.fullmatch(r"-?\d+", t):
        return int(t)
    if re.fullmatch(r"-?\d*\.\d+", t):
        return float(t)
    raise ValueError(f"unsupported literal in control-plane call: {tok!r}")


def _parse_call_args(argstr: str) -> tuple[list, dict]:
    """Positional + PostgreSQL named-notation (``:=`` / ``=>``) args."""
    pos, named = [], {}
    for tok in _split_args(argstr):
        m = re.match(r"^([A-Za-z_]\w*)\s*(?::=|=>)\s*(.+)$", tok, re.DOTALL)
        if m:
            named[m.group(1).lower()] = _parse_value(m.group(2))
        else:
            if named:
                raise ValueError("positional argument after named argument")
            pos.append(_parse_value(tok))
    return pos, named


def _bind(
    pos: list, named: dict, params: list[str], required: int = 0
) -> dict:
    if len(pos) > len(params):
        raise ValueError(f"too many arguments (max {len(params)})")
    bound = dict(zip(params, pos))
    for k, v in named.items():
        if k not in params:
            raise ValueError(f"unknown argument {k!r}")
        if k in bound:
            raise ValueError(f"argument {k!r} given twice")
        bound[k] = v
    # a statement that parses to fewer arguments than the call needs
    # (PG raises "function does not exist" for a wrong-arity call)
    # must reject cleanly, not KeyError downstream (fuzz_sqlapi find)
    for p in params[:required]:
        if p not in bound:
            raise ValueError(f"missing required argument {p!r}")
    return bound


def _start_position(start_seq: int | None) -> str:
    # pipeline_kinesis.c:588-605: -2 → trim_horizon, -1 → latest; a saved
    # seqnum (checkpoint) always wins, which consume_begin already does.
    # An omitted/NULL start_seq defaults to -1 = LATEST
    # (kinesis_consume_begin_sr, pipeline_kinesis.c:922-925) — an ops
    # script that omits start_seq consumes only new records, it does NOT
    # replay stream history.
    if start_seq is None or start_seq == -1:
        return "latest"
    if start_seq == -2:
        return "trim_horizon"
    raise ValueError(
        "start_seq must be -2 (trim_horizon), -1 (latest) or NULL"
    )


_CREATE_STREAM = re.compile(
    r"^\s*CREATE\s+STREAM\s+(\w+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_CV = re.compile(
    r"^\s*CREATE\s+CONTINUOUS\s+VIEW\s+(\w+)\s*"
    r"(?:WITH\s*\((.*?)\)\s*)?AS\s+(SELECT\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_CT = re.compile(
    r"^\s*CREATE\s+CONTINUOUS\s+TRANSFORM\s+(\w+)\s*AS\s+(SELECT\b.*?)"
    r"(?:\s+THEN\s+EXECUTE\s+PROCEDURE\s+(\w+)\s*\(\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_STREAM = re.compile(
    # type may be parameterized incl. commas: numeric(10,2), varchar(255)
    r"^\s*ALTER\s+STREAM\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+"
    r"(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP = re.compile(
    r"^\s*DROP\s+(CONTINUOUS\s+VIEW|CONTINUOUS\s+TRANSFORM|STREAM)\s+"
    r"(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ACTIVATE = re.compile(
    r"^\s*(ACTIVATE|DEACTIVATE)\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_FROM_RELATION = re.compile(r"\bFROM\s+(\w+)", re.IGNORECASE)


def _map_pg_schema(coldefs: str) -> str:
    cols = []
    for tok in _split_args(coldefs):
        parts = tok.split(None, 1)
        if len(parts) != 2:
            raise ValueError(f"bad column definition: {tok!r}")
        name, pgtype = parts[0], parts[1].strip().lower()
        pgtype = re.sub(r"\s+not\s+null$", "", pgtype)
        sparktype = _PG_TYPES.get(pgtype)
        if sparktype is None:
            # pass through anything already valid Spark DDL (INT, STRING…)
            sparktype = parts[1]
        cols.append(f"{name} {sparktype}")
    return ", ".join(cols)


def _infer_stream(engine, select_sql: str) -> str:
    """The FROM clause names the source relation — a registered stream,
    a transform output relation, or a view's output stream
    (``<v>_osrel`` / ``output_of('v')``) — PipelineDB chaining."""
    for rel in _FROM_RELATION.findall(select_sql):
        if engine.catalog._is_source_relation(rel):
            return rel
    raise ValueError(
        "continuous view must read FROM a registered stream, transform "
        f"output, or view output stream (got: {select_sql!r})"
    )


def execute(engine, statement: str) -> DataFrame | str:
    """Run one statement of the reference's SQL surface. Control-plane
    statements return the reference's ``'success'`` sentinel
    (README.md:103-110); reads return a DataFrame."""
    if _VERSION_CALL.match(statement):
        return PIPELINE_VERSION

    m = _TTL_EXPIRE.match(statement)
    if m:
        # returns the reaped-row count, the reference's return value
        return str(engine.ttl_expire(m.group(1)))

    m = _REBUCKET.match(statement)
    if m:
        engine.rebucket(m.group(1), int(m.group(2)))
        return "success"

    m = _FN_CALL.match(statement)
    if m:
        fn, argstr = m.group(1).lower(), m.group(2)
        pos, named = _parse_call_args(argstr)
        if fn == "add_endpoint":
            b = _bind(
                pos, named,
                ["name", "region", "credfile", "url"], required=1,
            )
            engine.add_endpoint(
                b["name"],
                region=b.get("region", "local"),
                credfile=b.get("credfile"),
                url=b.get("url"),
            )
            return "success"
        if fn == "remove_endpoint":
            b = _bind(pos, named, ["name"], required=1)
            engine.remove_endpoint(b["name"])
            return "success"
        if fn == "consume_begin":
            if not pos and not named:
                engine.consume_begin_all()
                return "success"
            b = _bind(
                pos,
                named,
                [
                    "endpoint",
                    "stream",
                    "relation",
                    "format",
                    "delimiter",
                    "quote",
                    "escape",
                    "batchsize",
                    "parallelism",
                    "start_seq",
                ],
                required=3,
            )
            engine.consume_begin(
                b["endpoint"],
                b["stream"],
                b["relation"],
                fmt=b.get("format", "text"),
                delimiter=b.get("delimiter", "\t"),
                quote=b.get("quote"),
                escape=b.get("escape"),
                batchsize=b.get("batchsize", 1000),
                parallelism=b.get("parallelism", 1),
                start_position=_start_position(b.get("start_seq")),
            )
            return "success"
        if fn == "consume_end":
            if not pos and not named:
                engine.consume_end_all()
                return "success"
            b = _bind(
                pos, named, ["endpoint", "stream", "relation"],
                required=3,
            )
            engine.consume_end(b["endpoint"], b["stream"], b["relation"])
            return "success"
        if fn == "replay_dead_letters":
            # A13 recovery, SQL spelling (VERDICT r14 #4): the rest of
            # the control plane has statement parity, the r14
            # schema_ddl override was Python-API only. Returns the
            # recovered-row count (same convention as
            # pipeline_ttl_expire). schema_ddl accepts PG column types
            # (mapped like CREATE STREAM) or Spark DDL verbatim.
            b = _bind(
                pos,
                named,
                [
                    "relation",
                    "format",
                    "delimiter",
                    "quote",
                    "escape",
                    "schema_ddl",
                ],
                required=1,
            )
            ddl = b.get("schema_ddl")
            return str(
                engine.replay_dead_letters(
                    b["relation"],
                    fmt=b.get("format"),
                    delimiter=b.get("delimiter"),
                    quote=b.get("quote"),
                    escape=b.get("escape"),
                    schema_ddl=(
                        _map_pg_schema(ddl) if ddl is not None else None
                    ),
                )
            )
        raise ValueError(f"unknown pipeline_kinesis function: {fn}")

    m = _CREATE_STREAM.match(statement)
    if m:
        engine.create_stream(m.group(1), _map_pg_schema(m.group(2)))
        return "success"

    m = _ALTER_STREAM.match(statement)
    if m:
        name, col, pgtype = m.groups()
        spark_ddl = _map_pg_schema(f"{col} {pgtype}")
        engine.alter_stream_add_column(name, *spark_ddl.split(" ", 1))
        return "success"

    m = _CREATE_CV.match(statement)
    if m:
        name, withopts, select_sql = m.groups()
        select_sql = rewrite_output_of(select_sql.rstrip().rstrip(";"))
        kwargs: dict[str, Any] = {}
        if withopts:
            for tok in _split_args(withopts):
                km = re.match(r"^(\w+)\s*=\s*(.+)$", tok.strip())
                if not km:
                    raise ValueError(f"bad WITH option: {tok!r}")
                k = km.group(1).lower()
                raw = km.group(2).strip()
                # bare keyword accepted alongside quoted: the
                # retention opt-out reads naturally either way
                # ('none' joined 'unbounded' in r12 — the docstring
                # always named both spellings but only the quoted form
                # of 'none' parsed; caught by tools/fuzz_sqlapi.py)
                if raw.lower() in ("unbounded", "none"):
                    v = raw.lower()
                else:
                    v = _parse_value(raw)

                def _duration_secs(val, what):
                    tm = re.fullmatch(
                        r"\s*(\d+)\s*(second|minute|hour|day)s?\s*",
                        str(val),
                        re.IGNORECASE,
                    )
                    if not tm:
                        raise ValueError(f"bad {what}: {val!r}")
                    mult = {
                        "second": 1,
                        "minute": 60,
                        "hour": 3600,
                        "day": 86400,
                    }[tm.group(2).lower()]
                    return int(tm.group(1)) * mult

                if k == "ttl":
                    kwargs["ttl_seconds"] = _duration_secs(v, "ttl")
                elif k == "sw":
                    # PipelineDB sliding-window views: WITH (sw='1 hour')
                    kwargs["sw_seconds"] = _duration_secs(v, "sw")
                elif k == "sw_step":
                    kwargs["sw_step_seconds"] = _duration_secs(v, "sw_step")
                elif k == "ttl_column":
                    kwargs["ttl_column"] = v
                elif k == "watermark":
                    # B25 event-time watermark: WITH
                    # (watermark='10 minutes', watermark_column='ts',
                    # output_mode='append') — late rows behind the
                    # delay are dropped, finalized windows never reopen
                    kwargs["watermark_delay_seconds"] = _duration_secs(
                        v, "watermark"
                    )
                elif k == "watermark_column":
                    kwargs["watermark_column"] = v
                elif k == "materialize":
                    kwargs["materialize"] = v
                elif k == "key_cols":
                    kwargs["key_cols"] = [
                        c.strip() for c in str(v).split(",")
                    ]
                elif k == "output_mode":
                    kwargs["output_mode"] = v
                elif k == "upsert_buckets":
                    kwargs["upsert_buckets"] = int(v)
                elif k == "osrel_keep_batches":
                    # 'unbounded'/'none' = the explicit audit-everything
                    # opt-out of the finite retention default
                    kwargs["osrel_keep_batches"] = (
                        None
                        if str(v).lower() in ("unbounded", "none")
                        else int(v)
                    )
                else:
                    raise ValueError(f"unknown WITH option: {k}")
        engine.create_continuous_view(
            name, select_sql, _infer_stream(engine, select_sql), **kwargs
        )
        return "success"

    m = _CREATE_CT.match(statement)
    if m:
        name, select_sql, proc_name = m.groups()
        select_sql = rewrite_output_of(select_sql.rstrip().rstrip(";"))
        proc = engine._procs.get(proc_name) if proc_name else None
        if proc_name and proc is None:
            raise ValueError(
                f"procedure {proc_name!r} not registered — pass it via "
                "Engine.create_continuous_transform(proc=...) or "
                "Engine.register_proc"
            )
        engine.create_continuous_transform(
            name,
            select_sql,
            _infer_stream(engine, select_sql),
            sink_relation=f"{name}_output",
            proc=proc,
        )
        return "success"

    m = _DROP.match(statement)
    if m:
        kind, name = m.group(1).upper(), m.group(2)
        if "VIEW" in kind:
            engine.drop_continuous_view(name)
        elif "TRANSFORM" in kind:
            engine.drop_continuous_transform(name)
        else:
            engine.drop_stream(name)
        return "success"

    m = _ACTIVATE.match(statement)
    if m:
        if m.group(1).upper() == "ACTIVATE":
            engine.activate(m.group(2))
        else:
            engine.deactivate(m.group(2))
        return "success"

    # ad-hoc read path; expose the seqnums progress relation under its
    # reference-qualified name (README.md:119-129)
    if re.search(r"pipeline_kinesis\.seqnums", statement, re.IGNORECASE):
        engine.seqnums().createOrReplaceTempView("__pk_seqnums")
        statement = re.sub(
            r"pipeline_kinesis\.seqnums",
            "__pk_seqnums",
            statement,
            flags=re.IGNORECASE,
        )
    return engine.sql(statement)


def split_statements(script: str) -> list[str]:
    """Split a psql-style script into statements on top-level semicolons
    (quote-aware; ``--`` line comments stripped)."""
    lines = []
    for line in script.splitlines():
        in_str = False
        out = []
        i = 0
        while i < len(line):
            c = line[i]
            if not in_str and c == "-" and line[i : i + 2] == "--":
                break
            out.append(c)
            if c == "'":
                in_str = not in_str
            i += 1
        lines.append("".join(out))
    text = "\n".join(lines)
    stmts, cur, in_str = [], [], False
    for c in text:
        if c == "'":
            in_str = not in_str
            cur.append(c)
        elif c == ";" and not in_str:
            s = "".join(cur).strip()
            if s:
                stmts.append(s)
            cur = []
        else:
            cur.append(c)
    tail = "".join(cur).strip()
    if tail:
        stmts.append(tail)
    return stmts


def execute_script(engine, script: str) -> list:
    """Run a whole reference ops script (the README session verbatim):
    statements split on top-level semicolons, results returned in
    order."""
    return [execute(engine, s) for s in split_statements(script)]
