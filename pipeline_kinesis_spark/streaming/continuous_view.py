"""Continuous-view compilation and materialization.

The reference's continuous view (README.md:66) is a standing SQL aggregate
over a stream whose result stays queryable as it updates. Spark-native
equivalent: compile the view SQL against a streaming temp view of the
parsed stream → streaming aggregation → materialize to a queryable sink.

Sink strategy:
- 'complete'/'update' (default here): in-memory sink named after the view —
  ``spark.table(view_name)`` is the exact analog of
  ``SELECT * FROM foo_view`` (README.md:78-88). Right for
  bounded-cardinality aggregates (the continuous-view contract).
- keyed upsert to parquet (``upsert_to_parquet``): durable MERGE-style
  materialization for unbounded keyspaces; on a cluster with a
  transactional table format this becomes a real MERGE INTO — the
  reference's ON CONFLICT DO UPDATE (pipeline_kinesis.c:543-579) analog.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compile_view(
    spark: SparkSession,
    stream_df: DataFrame,
    stream_name: str,
    view_sql: str,
) -> DataFrame:
    """Register the (streaming) stream DataFrame under its declared name and
    compile the view SQL against it — Catalyst analyzes/optimizes the plan
    exactly as for a batch query, then runs it incrementally."""
    stream_df.createOrReplaceTempView(stream_name)
    return spark.sql(view_sql)


# Hash-bucket partitioning for the upsert store: rows live under
# <table_dir>/<KB_COL>=<i>/ with i = pmod(xxhash64(key_cols), n). A
# micro-batch then reads, merges, and REWRITES ONLY the buckets its keys
# hash into — write amplification per batch is (touched buckets / n) of
# the table instead of 2× the whole table. No leading underscore in the
# column name: Spark's file listing hides `_`-prefixed paths, which would
# make the partition dirs invisible to readers.
UPSERT_BUCKETS = 16

# Default output-stream retention (batches); engine.py re-exports this
# as its osrel default. Lives here so the reap path can tell "the
# default is reaping" (warn once) from an explicit keep value.
OSREL_KEEP_DEFAULT = 1000
_warned_default_reap: set[str] = set()
KB_COL = "upsert_kb"


def _store_buckets(table_dir: str, default: int) -> int:
    """Bucket count is a physical property of the store layout. The
    MANIFEST carries it, so a rebucket flips file list and bucket count
    in ONE atomic rename; a store with no manifest has committed
    nothing and takes the caller's count."""
    m = _load_manifest(table_dir)
    if m and m.get("num_buckets"):
        return int(m["num_buckets"])
    return default


def _emit_delta(
    new: DataFrame,
    current: DataFrame | None,
    key_cols: list[str],
    delta_dir: str,
    batch_id: int,
    ttl_pred=None,
) -> None:
    """Append this batch's change tuples to the view's output stream
    (PipelineDB ``<view>_osrel``): one row per upserted key with
    ``old`` (the pre-merge matrel row, NULL on first insert), ``new``
    (the post-merge row) and ``arrival_timestamp``. Exactly-once under
    foreachBatch retries: the batch's rows land in a ``b<id>`` subdir
    via tmp-write + rename, and an already-present subdir means the
    batch was emitted before the crash — skip. Downstream standing
    queries discover the renamed subdirs through a ``b*`` glob source,
    so a half-written tmp dir is never visible to readers.

    MUST run before the merge commits: a crash between a commit and
    its emission would replay the batch against the post-merge store
    and announce post-merge values as ``old``."""
    bdir = os.path.join(delta_dir, f"b{int(batch_id):012d}")
    if os.path.isdir(bdir):
        return
    data_cols = [
        c for c in new.columns if c != KB_COL and PARTIAL_SEP not in c
    ]
    raw_new = new
    if ttl_pred is not None:
        # rows already expired on arrival never reach the store — the
        # stream must agree with the matrel and not announce them
        new = new.filter(ttl_pred)
    new_side = new.select(
        *key_cols, F.struct(*[F.col(c) for c in data_cols]).alias("new")
    )
    if current is not None:
        # semi-filter the touched-bucket read down to this batch's keys
        # BEFORE building the old side — it stays O(batch), never
        # O(bucket), so the broadcast below is always small
        old_side = current.join(
            F.broadcast(new.select(*key_cols)), key_cols, "left_semi"
        ).select(
            *key_cols,
            F.struct(*[F.col(c) for c in data_cols]).alias("old"),
        )
        delta = new_side.join(F.broadcast(old_side), key_cols, "left")
    else:
        struct_type = new_side.schema["new"].dataType
        delta = new_side.withColumn("old", F.lit(None).cast(struct_type))
    out = delta.select(
        "old", "new", F.current_timestamp().alias("arrival_timestamp")
    )
    if ttl_pred is not None and current is not None:
        # DELETE tuples (old, new = NULL): the merge keeps
        # current ⟍ raw-new-keys ∪ ttl-filtered-new, so a stored row
        # vanishes when it is expired itself OR its arriving
        # replacement was expired (the key leaves `keep` but never
        # re-enters through the filtered new side). Both cases must say
        # so on the stream — PipelineDB's old-only delete delta.
        gone = current.join(
            F.broadcast(new.select(*key_cols)), key_cols, "left_anti"
        )
        marker = "__pk_rawkey"
        raw_keys = raw_new.select(*key_cols).withColumn(
            marker, F.lit(True)
        )
        gone = gone.join(F.broadcast(raw_keys), key_cols, "left")
        replaced_by_expired = F.coalesce(F.col(marker), F.lit(False))
        dels = gone.filter((~ttl_pred) | replaced_by_expired).select(
            F.struct(*[F.col(c) for c in data_cols]).alias("old"),
            F.lit(None)
            .cast(new_side.schema["new"].dataType)
            .alias("new"),
            F.current_timestamp().alias("arrival_timestamp"),
        )
        out = out.unionByName(dels)
    # dot-prefixed staging dir: invisible to BOTH the chained readers'
    # ``b*`` glob and Spark's recursive listing (hidden-file rule), so
    # a half-written batch — or one orphaned by a crash before the
    # rename — can never be read, and never read twice after publish
    tmp = os.path.join(delta_dir, f".staging_b{int(batch_id):012d}")
    out.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, bdir)


def reap_delta_batches(
    delta_dir: str, batch_id: int, keep_batches: int
) -> None:
    """Bound the output-stream history: drop ``b<id>`` subdirs more than
    keep_batches behind the current batch. Without retention the delta
    dir grows with stream lifetime — fine for audit-everything
    deployments, wrong as a default at 100 TB. Retention must be
    generous enough that every standing consumer has processed the
    reaped batches (consumers run on the same trigger cadence, so a
    few-hundred-batch window is already hours of slack); ad-hoc history
    reads see only the retained window. Skipping the batch currently
    being (re)emitted is guaranteed by arithmetic: cutoff < batch_id.

    The highest cutoff ever applied is recorded in a ``_reaped_below``
    marker so late-wired consumers (whose file-stream starts from
    scratch) can detect that history below it is gone and warn instead
    of silently undercounting."""
    cutoff = int(batch_id) - int(keep_batches)
    if cutoff <= 0:
        return
    if (
        int(keep_batches) == OSREL_KEEP_DEFAULT
        and delta_dir not in _warned_default_reap
    ):
        # the bounded default replaced round-5's unbounded behavior —
        # surface the first actual reap under the default once per
        # store so deployments relying on full delta history notice
        # (README "Output-stream retention"); explicit keep values and
        # osrel_keep_batches=None (unbounded) never warn
        _warned_default_reap.add(delta_dir)
        warnings.warn(
            f"osrel retention default ({OSREL_KEEP_DEFAULT} batches) is "
            f"reaping output-stream history under {delta_dir}; pass "
            "osrel_keep_batches explicitly (None = unbounded) to "
            "silence",
            stacklevel=2,
        )
    removed = False
    for name in os.listdir(delta_dir):
        if not name.startswith("b") or not name[1:].isdigit():
            continue
        try:
            bid = int(name[1:])
        except ValueError:
            continue
        if bid < cutoff:
            shutil.rmtree(os.path.join(delta_dir, name), ignore_errors=True)
            removed = True
    if removed and cutoff > read_reap_marker(delta_dir):
        tmp = os.path.join(delta_dir, f".tmp_reaped_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(cutoff))
        os.rename(tmp, os.path.join(delta_dir, _REAP_MARKER))


_REAP_MARKER = "_reaped_below"  # `_` prefix: invisible to Spark listing


def read_reap_marker(delta_dir: str) -> int:
    """Lowest batch id still guaranteed present in the osrel history
    (0 when retention has never reaped)."""
    try:
        with open(os.path.join(delta_dir, _REAP_MARKER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


# Snapshot manifest: the upsert store's one commit record. Every commit
# (the first batch and every later merge, a TTL sweep, a rebucket) moves
# its new part files into the live bucket dirs, then atomically renames
# in a manifest naming exactly the files of the new generation; the
# previous generation stays on disk until the commit after. Readers plan
# from the manifest's file list, never from a directory listing: the
# bucket dirs hold two generations, plus whatever files a crashed
# commit moved in before its manifest flip. A store dir with no
# manifest has committed nothing. Single writer per store (one
# streaming query per view, serialized with ttl_expire/rebucket by the
# engine's store mutex). On a cluster this role is played by a
# transactional table format's log (Delta/Iceberg); the stand-in keeps
# the same reader contract.
_MANIFEST = "_manifest"  # `_` prefix: invisible to Spark's file listing


def write_store_manifest(
    table_dir: str,
    batch_id: int | None,
    schema_json: str | None,
    files: dict[str, list[str]],
    prev_files: dict[str, list[str]],
    num_buckets: int | None,
) -> None:
    """Flip the store to a new generation: tmp-write + rename of the
    manifest naming ``files`` (bucket dir -> part file names) and the
    still-retained ``prev_files``. schema_json (StructType.json())
    makes a committed-but-EMPTY store readable as a typed empty
    relation (a merge can delete every row — e.g. TTL expiring the
    last key)."""
    mdir = os.path.join(table_dir, _MANIFEST)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp_{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(
            {
                "batch_id": batch_id,
                "files": files,
                "prev_files": prev_files,
                "schema": schema_json,
                "num_buckets": num_buckets,
            },
            f,
        )
    os.rename(tmp, os.path.join(mdir, "LATEST.json"))


def store_bucket_files(table_dir: str) -> dict[int, list[str]] | None:
    """bucket id → absolute committed file paths per the manifest
    (single source of truth for every consumer that needs per-bucket
    paths: the merge's touched-bucket read, the TTL sweep, rebucket);
    None when nothing was committed yet."""
    m = _load_manifest(table_dir)
    if m is None:
        return None
    return {
        int(key.split("=", 1)[1]): [
            os.path.join(table_dir, key, f) for f in fnames
        ]
        for key, fnames in m.get("files", {}).items()
    }


def publish_bucket_files(
    table_dir: str,
    tmp: str,
    touched: set[int],
    batch_id: int | None,
    schema_json: str | None,
    num_buckets: int | None = None,
) -> None:
    """The store's one commit: a two-generation MVCC flip. Move the
    touched buckets' NEW part files (written under ``tmp``) INTO the
    live bucket dirs (uuid part names never collide), publish a
    manifest naming exactly the new generation, then reap only files
    in NEITHER the new nor the previous manifest. A reader that planned
    from manifest N keeps every file it planned until manifest N+2
    commits — the filesystem stand-in for a transactional format's
    version retention. Crash-safe: files land before the manifest
    flips, so readers keep seeing generation N (or, before the first
    commit, nothing); the orphans a died-and-retried batch moved in
    are reaped by the retry's own commit. ``schema_json`` and
    ``num_buckets`` left None carry over from the previous
    manifest."""
    os.makedirs(table_dir, exist_ok=True)
    prev = _load_manifest(table_dir) or {}
    prev_files = dict(prev.get("files", {}))
    new_files = dict(prev_files)
    for b in sorted(touched):
        key = f"{KB_COL}={b}"
        src = os.path.join(tmp, key)
        dst = os.path.join(table_dir, key)
        names: list[str] = []
        if os.path.isdir(src):
            os.makedirs(dst, exist_ok=True)
            for fname in os.listdir(src):
                if fname.endswith(".parquet") and not fname.startswith(
                    "."
                ):
                    os.rename(
                        os.path.join(src, fname),
                        os.path.join(dst, fname),
                    )
                    names.append(fname)
        if names:
            new_files[key] = sorted(names)
        else:
            # merge emptied the bucket (TTL reaped every row)
            new_files.pop(key, None)
    write_store_manifest(
        table_dir,
        batch_id,
        schema_json or prev.get("schema"),
        new_files,
        prev_files,
        num_buckets or prev.get("num_buckets"),
    )
    # reap generation N-1: anything not in (new ∪ prev) per bucket
    for b in sorted(touched):
        key = f"{KB_COL}={b}"
        keep = set(new_files.get(key, [])) | set(prev_files.get(key, []))
        dst = os.path.join(table_dir, key)
        if not os.path.isdir(dst):
            continue
        for fname in os.listdir(dst):
            if (
                fname.endswith(".parquet")
                and not fname.startswith(".")
                and fname not in keep
            ):
                try:
                    os.remove(os.path.join(dst, fname))
                except OSError:
                    pass
    # reap ORPHAN BUCKET DIRS with the same two-generation grace: a
    # bucket absent from both the new and previous manifest can only be
    # a layout the generation before last used (e.g. a shrinking
    # rebucket's high bucket ids, which no future merge or round-robin
    # sweep under the new modulus would ever touch — without this they
    # would leak the old generation forever), or one a crashed first
    # commit moved in
    live_keys = set(new_files) | set(prev_files)
    for name in os.listdir(table_dir):
        if name.startswith(f"{KB_COL}=") and name not in live_keys:
            shutil.rmtree(
                os.path.join(table_dir, name), ignore_errors=True
            )


def _load_manifest(table_dir: str) -> dict | None:
    path = os.path.join(table_dir, _MANIFEST, "LATEST.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _manifest_paths(table_dir: str, m: dict) -> list[str]:
    return [
        os.path.join(table_dir, bucket, fname)
        for bucket, fnames in m.get("files", {}).items()
        for fname in fnames
    ]


def read_store_manifest(table_dir: str) -> list[str] | None:
    """Absolute parquet paths of the last committed version, or None
    when nothing was committed yet."""
    m = _load_manifest(table_dir)
    return None if m is None else _manifest_paths(table_dir, m)


def read_store(spark, table_dir: str) -> DataFrame | None:
    """Manifest-planned batch read of an upsert store — the only
    correct way to read one (see the manifest note above). None when
    no manifest exists: nothing was committed. A committed-but-empty
    store reads as a typed empty relation from the manifest's schema.
    A manifest whose files have ALL vanished means the read lost a
    race with the next two commits' reaps — re-plan from the newer
    manifest; a subset missing is dropped from the plan."""
    from pyspark.sql.types import StructType

    for _ in range(6):
        m = _load_manifest(table_dir)
        if m is None:
            return None
        paths = _manifest_paths(table_dir, m)
        live = [p for p in paths if os.path.exists(p)]
        if live:
            # basePath keeps the KB_COL partition column in the schema
            return spark.read.option("basePath", table_dir).parquet(*live)
        if not paths:
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(m["schema"]))
            )
        time.sleep(0.05)
    raise RuntimeError(
        f"store read of {table_dir} found no readable generation after "
        "retries"
    )


def upsert_to_parquet(
    batch_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    ttl_seconds: int | None = None,
    ttl_column: str | None = None,
    batch_id: int | None = None,
    num_buckets: int = UPSERT_BUCKETS,
    delta_dir: str | None = None,
    delta_keep_batches: int | None = None,
) -> None:
    """MERGE-style keyed upsert into a hash-bucketed parquet dir
    (foreachBatch body) — the plain-parquet stand-in for Delta
    ``MERGE INTO``, the reference's ON CONFLICT DO UPDATE analog
    (pipeline_kinesis.c:543-579).

    The store is partitioned by ``pmod(xxhash64(key_cols), n)``. Each
    batch: hash the incoming keys, read ONLY the committed files of
    the buckets they land in, anti-join out replaced keys, union the
    new rows, write those buckets ONCE to a tmp dir, and commit them
    through one manifest flip (publish_bucket_files) — untouched
    buckets are never read, never rewritten, and their files stay
    byte-identical. The first batch takes the same path over an empty
    previous generation. Scale shape: per-batch IO is proportional to
    touched buckets, not table size. On a cluster with a transactional
    format this whole function becomes ``MERGE INTO`` on a table
    clustered by the key.

    With ttl_seconds/ttl_column set (PipelineDB TTL views), expired
    rows are dropped from every touched bucket during the merge, and
    one additional bucket per batch (``batch_id % n``, round-robin) is
    probed for expired rows and reaped if any — so even buckets no new
    data hashes into are swept within n batches and the store stays
    bounded. view_table additionally filters expired rows at read time,
    so lag in the sweep is never visible to queries.
    """
    spark = batch_df.sparkSession
    if KB_COL in batch_df.columns:
        raise ValueError(f"column name {KB_COL!r} is reserved")
    n = _store_buckets(table_dir, num_buckets)
    kb = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n)).cast(
        "int"
    )
    # three consumers this batch (touched-bucket collect, anti-join
    # broadcast, final write) — persist so the micro-batch dedup runs once
    new = batch_df.dropDuplicates(key_cols).withColumn(KB_COL, kb).persist()
    try:
        _upsert_batch(spark, new, table_dir, key_cols, n, ttl_seconds,
                      ttl_column, batch_id, delta_dir)
        if (
            delta_dir is not None
            and delta_keep_batches is not None
            and batch_id is not None
        ):
            reap_delta_batches(delta_dir, batch_id, delta_keep_batches)
    finally:
        new.unpersist()


def _upsert_batch(
    spark,
    new: DataFrame,
    table_dir: str,
    key_cols: list[str],
    n: int,
    ttl_seconds: int | None,
    ttl_column: str | None,
    batch_id: int | None,
    delta_dir: str | None = None,
) -> None:
    ttl_pred = None
    if ttl_seconds is not None and ttl_column is not None:
        ttl_pred = F.col(ttl_column) >= F.current_timestamp() - F.expr(
            f"INTERVAL {int(ttl_seconds)} SECOND"
        )
    # None: nothing committed yet — files a crashed first commit moved
    # in are not data, and this commit's reap removes them
    committed = store_bucket_files(table_dir)
    touched = {
        int(r[0]) for r in new.select(KB_COL).distinct().collect()
    }  # O(buckets) driver-side, bounded by n
    if ttl_pred is not None and batch_id is not None and committed:
        sweep = int(batch_id) % n
        sp = committed.get(sweep)
        if (
            sweep not in touched
            and sp
            and spark.read.option("basePath", table_dir)
            .parquet(*sp)
            .filter(~ttl_pred)
            .limit(1)
            .count()
            > 0
        ):
            touched.add(sweep)
    if not touched and committed is not None:
        return  # an empty FIRST batch still commits a typed empty store

    cur_paths = [p for b in touched for p in (committed or {}).get(b, [])]
    current = None
    merged = new
    if cur_paths:
        current = spark.read.option("basePath", table_dir).parquet(
            *cur_paths
        )
        keep = current.join(
            F.broadcast(new.select(*key_cols)), key_cols, "left_anti"
        )
        merged = keep.unionByName(new)
    if delta_dir is not None and batch_id is not None:
        # before the commit: 'current' must still read pre-merge files
        _emit_delta(new, current, key_cols, delta_dir, batch_id, ttl_pred)
    if ttl_pred is not None:
        merged = merged.filter(ttl_pred)
    tmp = f"{table_dir}__tmp_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy(KB_COL).parquet(tmp)
    try:
        publish_bucket_files(
            table_dir,
            tmp,
            touched,
            batch_id,
            merged.schema.json(),
            num_buckets=n,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Sliding-window continuous views (PipelineDB WITH (sw = '...'))
#
# PipelineDB's flagship view type: the view always answers over the
# trailing window. Its design — and this one — keeps per-time-step
# PARTIAL aggregates in the materialization and recombines the steps
# inside the window at read time, so maintenance stays incremental and
# read cost is O(groups × steps). The same restriction applies:
# aggregates must be combinable — count/sum/min/max, plus
# approx_count_distinct via mergeable HLL sketch partials.

import re as _re

SW_BUCKET_COL = "_sw_win"

# Exact DISTINCT is rejected (negative lookahead): per-step distinct
# partials are NOT combinable — summing them double-counts values that
# appear in several steps. PipelineDB's own sw count(DISTINCT) recovers
# the answer through mergeable HLL partials; here that is spelled
# approx_count_distinct(x): the standing query keeps an hll_sketch_agg
# SKETCH per (group, step) and the read path unions the live steps'
# sketches before estimating — set semantics across steps, within HLL
# error (~1.6% rsd at default lgConfigK), unbounded distinct cardinality
# in O(sketch) state. That approximation contract is why the exact
# spelling stays an error instead of being silently rewritten.
_SW_APPROX = _re.compile(
    r"^approx_count_distinct\s*\((.+)\)\s+AS\s+(\w+)$",
    _re.IGNORECASE | _re.DOTALL,
)
_SW_PCT = _re.compile(
    r"^(?:approx_percentile|percentile_approx)\s*\((.+)\)\s+AS\s+(\w+)$",
    _re.IGNORECASE | _re.DOTALL,
)
_SW_EXACT_DISTINCT = _re.compile(
    r"^\w+\s*\(\s*distinct\b", _re.IGNORECASE
)
_SW_ALIAS = _re.compile(r"\s+AS\s+(\w+)\s*$", _re.IGNORECASE)
_SW_COMBINE = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "approx_count_distinct": lambda c: F.hll_sketch_estimate(
        F.hll_union_agg(c)
    ),
}


def _split_select_items(select_list: str) -> list[str]:
    items, depth, cur, in_str = [], 0, [], False
    for c in select_list:
        if c == "'":
            in_str = not in_str
        elif not in_str:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 0:
                items.append("".join(cur).strip())
                cur = []
                continue
        cur.append(c)
    if "".join(cur).strip():
        items.append("".join(cur).strip())
    return items


def _outside_string_mask(sql: str) -> list[bool]:
    """Per-character: True where the char sits at paren depth 0 and
    outside a single-quoted literal."""
    mask, depth, in_str = [], 0, False
    for c in sql:
        mask.append(depth == 0 and not in_str)
        if c == "'":
            in_str = not in_str
        elif not in_str:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
    return mask


def _split_select_from(sql: str) -> tuple[str, str, str] | None:
    """Split ``SELECT <list> FROM <rest>`` at the first DEPTH-0 FROM —
    a FROM inside parens (``extract(hour FROM ts)``, a scalar
    subquery) must never be the split point, or list rewrites would
    inject columns inside an expression."""
    m = _re.match(r"^(\s*SELECT\s+)", sql, _re.I)
    if not m:
        return None
    head = m.group(1)
    strmask = _outside_string_mask(sql)
    for fm in _re.finditer(r"\bFROM\b", sql, _re.I):
        if fm.start() >= len(head) and strmask[fm.start()]:
            return (
                head,
                sql[len(head):fm.start()].strip(),
                sql[fm.start():],
            )
    return None


def _whole_item_call(item: str) -> tuple[str, str] | None:
    """If the item is EXACTLY one function call with an alias —
    ``fn( args ) AS alias`` with the closing paren matching the opening
    one — return (fn, inner args). Expressions over aggregates
    (``avg(a) - avg(b) AS d``, ``sum(x)/sum(y) AS r``) return None: a
    regex with a lazy argument group would mis-split them and corrupt
    any rewrite built from the pieces."""
    m = _re.match(r"^(\w+)\s*\(", item)
    if not m:
        return None
    depth, i = 0, m.end() - 1
    for j in range(i, len(item)):
        c = item[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                tail = item[j + 1:]
                if _re.fullmatch(r"\s+AS\s+\w+\s*", tail, _re.I):
                    return m.group(1), item[i + 1:j].strip()
                return None
    return None


def split_having(sql: str) -> tuple[str, str | None]:
    """Split a trailing depth-0 HAVING clause off sw view SQL.

    PipelineDB's sw HAVING is evaluated by the read-time overlay over
    COMBINED partials — never per step (a group passing over the full
    window but in no single step must not vanish). The engine therefore
    strips it here, runs the standing query without it, and view_table
    applies it to the recombined window."""
    strmask = _outside_string_mask(sql)
    for m in _re.finditer(r"\bHAVING\b", sql, _re.I):
        if strmask[m.start()]:
            return (
                sql[: m.start()].rstrip(),
                sql[m.end():].strip().rstrip(";") or None,
            )
    return sql, None


_HAVING_KEYWORDS = {
    "and", "or", "not", "between", "in", "like", "is", "null",
    "true", "false", "case", "when", "then", "else", "end", "cast",
    "as", "int", "bigint", "double", "float", "string", "long",
}


def validate_having(having: str, allowed: set[str]) -> None:
    """HAVING over a recombined sw view may reference only the view's
    OUTPUT columns (group names + aggregate aliases) — per-step input
    columns no longer exist at read time. Rejected at CREATE, not at
    first read."""
    stripped = _re.sub(r"'[^']*'", "", having)
    for m in _re.finditer(r"[A-Za-z_]\w*", stripped):
        word = m.group(0)
        if stripped[m.end():].lstrip().startswith("("):
            if word.lower() in (
                "count", "sum", "min", "max", "avg",
                "approx_count_distinct",
            ):
                raise ValueError(
                    f"sw HAVING cannot re-run the aggregate "
                    f"{word!r}; reference its output alias instead "
                    f"(outputs: {sorted(allowed)})"
                )
            continue  # scalar function name
        if word.lower() in _HAVING_KEYWORDS or word in allowed:
            continue
        raise ValueError(
            f"sw HAVING references {word!r}, which is not an output "
            f"column of the view (outputs: {sorted(allowed)}); HAVING "
            "runs over the recombined window, so only output columns "
            "are in scope"
        )


def parse_sw_view_sql(sql: str) -> tuple[list[str], dict[str, str]]:
    """SELECT-list analysis for a sliding-window view: returns
    (group-item output names, alias → combinable-aggregate map).
    Every aggregate must be aliased count/sum/min/max (the PipelineDB
    sw restriction); every non-aggregate item needs a resolvable output
    name (bare column or ``expr AS name``).

    HAVING and subqueries are rejected HERE, at CREATE time: the
    standing query evaluates per-step PARTIALS, so a HAVING in the
    COMPILED query would filter steps, not the recombined window (a
    group passing over the full window but in no single step would
    silently vanish), and a nested GROUP BY would catch the step-bucket
    injection meant for the outer query. The engine supports user-facing
    HAVING by stripping it first (split_having) and applying it to the
    recombined window at read time — PipelineDB's own overlay-view
    placement."""
    strmask = _outside_string_mask(sql)
    for m in _re.finditer(r"\bHAVING\b", sql, _re.I):
        if strmask[m.start()]:
            raise ValueError(
                "HAVING must not reach the sw standing query (it would "
                "filter per-step partials, not the window); strip it "
                "with split_having and apply it at read time"
            )
    # any SELECT beyond the first — parenthesized or not — is a subquery
    selects = list(_re.finditer(r"\bSELECT\b", sql, _re.I))
    if len(selects) > 1:
        raise ValueError(
            "sw view SQL must be a single flat SELECT (no subqueries)"
        )
    parts = _split_select_from(sql)
    if parts is None:
        raise ValueError("sw view SQL must be a single SELECT ... FROM ...")
    group_names, aggs = [], {}
    for item in _split_select_items(parts[1]):
        call = _whole_item_call(item)
        if call is not None:
            fn, arg = call[0].lower(), call[1]
            if _re.match(r"^distinct\b", arg, _re.I):
                raise ValueError(
                    "per-step DISTINCT partials are not combinable "
                    "(values spanning steps would double-count); use "
                    "approx_count_distinct(x) — the sw view then keeps "
                    "mergeable HLL partials per step, PipelineDB's own "
                    "sw count(DISTINCT) mechanism"
                )
            alias = _re.search(r"\bAS\s+(\w+)\s*$", item, _re.I).group(1)
            if fn in ("count", "sum", "min", "max"):
                aggs[alias] = fn
                continue
            if fn == "approx_count_distinct":
                aggs[alias] = "approx_count_distinct"
                continue
            if fn in ("approx_percentile", "percentile_approx"):
                # per-step mergeable KLL quantile sketch (the
                # approx_count_distinct pattern for percentiles);
                # the percentage rides in the agg map as
                # "approx_percentile:<p>" — catalog-JSON-safe
                args = _split_select_items(arg)
                try:
                    p = float(args[1]) if len(args) >= 2 else None
                except ValueError:
                    p = None
                if p is None or not 0.0 <= p <= 1.0:
                    raise ValueError(
                        "sw approx_percentile needs a literal "
                        "percentage in [0, 1] (the sketch merge is "
                        "planned at CREATE time)"
                    )
                aggs[alias] = f"approx_percentile:{p}"
                continue
            raise ValueError(
                f"sw views support only combinable aggregates "
                f"(count/sum/min/max) and plain group columns; got {item!r}"
            )
        if _SW_EXACT_DISTINCT.match(item):
            raise ValueError(
                "per-step DISTINCT partials are not combinable (values "
                "spanning steps would double-count); use "
                "approx_count_distinct(x) — the sw view then keeps "
                "mergeable HLL partials per step, PipelineDB's own "
                "sw count(DISTINCT) mechanism"
            )
        if _re.match(r"^\w+\s*\(", item):
            # a call that is not EXACTLY one combinable aggregate with
            # an alias — including expressions OVER aggregates like
            # sum(x)/sum(y) AS r, whose per-step values must not be
            # re-aggregated (a sum of per-step ratios is not the window
            # ratio). Pre-compute on the stream, or use count/sum/min/
            # max and divide at read time.
            raise ValueError(
                f"sw views support only combinable aggregates "
                f"(count/sum/min/max) and plain group columns; got {item!r}"
            )
        alias = _SW_ALIAS.search(item)
        if alias:
            group_names.append(alias.group(1))
        elif _re.fullmatch(r"\w+", item):
            group_names.append(item)
        else:
            raise ValueError(
                f"sw view group expression needs an alias: {item!r}"
            )
    if not aggs:
        raise ValueError(
            "sw views need at least one combinable aggregate "
            "(count/sum/min/max ... AS alias)"
        )
    return group_names, aggs


def sw_rewrite_sql(sql: str, step_seconds: int) -> str:
    """Inject the time-step bucket into the view SQL: the standing query
    groups by (user groups, window(arrival_timestamp, step)) and its
    aggregates become per-step partials. approx_count_distinct items are
    rewritten to hll_sketch_agg — the per-step partial must be the
    MERGEABLE sketch state, not a per-step estimate (estimates don't
    union; sketches do)."""
    bucket = f"window(arrival_timestamp, '{int(step_seconds)} seconds')"
    parts = _split_select_from(sql)
    if parts is None:
        raise ValueError("sw view SQL must be a single SELECT ... FROM ...")
    head, select_list, rest = parts
    items = []
    for item in _split_select_items(select_list):
        am = _SW_APPROX.match(item)
        if am:
            items.append(
                f"hll_sketch_agg({am.group(1)}) AS {am.group(2)}"
            )
            continue
        pm = _SW_PCT.match(item)
        if pm:
            # per-step partial = the mergeable KLL sketch of the VALUE
            # argument (the percentage is applied at read time)
            val = _split_select_items(pm.group(1))[0]
            items.append(
                f"kll_sketch_agg_double(CAST(({val}) AS DOUBLE)) "
                f"AS {pm.group(2)}"
            )
            continue
        items.append(item)
    select_list = ", ".join(items)
    rewritten = f"{head}{select_list}, {bucket} AS {SW_BUCKET_COL} {rest}"
    # anchor to the OUTER query's GROUP BY: only a match at paren depth
    # 0 outside string literals qualifies (a subquery's GROUP BY sits
    # inside parens — parse_sw_view_sql rejects those at CREATE, this
    # keeps the injection correct regardless)
    strmask = _outside_string_mask(rewritten)
    for gm in _re.finditer(r"\bGROUP\s+BY\b", rewritten, _re.I):
        if strmask[gm.start()]:
            i = gm.end()
            return f"{rewritten[:i]} {bucket},{rewritten[i:]}"
    return rewritten + f" GROUP BY {bucket}"


# --------------------------------------------------------------------------
# combine(): PipelineDB's read-time re-aggregation over matrel partials.
#
# PipelineDB lets a user query a continuous view's materialization at a
# COARSER grouping than the view declares and still get exact answers:
#   CREATE CONTINUOUS VIEW v AS
#     SELECT minute(x) m, url, avg(latency) lat FROM s GROUP BY m, url;
#   SELECT url, combine(lat) FROM v GROUP BY url;   -- true avg per url
# Naively re-aggregating finals is wrong (avg of avgs weights every
# minute equally); PipelineDB stores aggregate TRANSITION STATE in the
# matrel and combine() merges states. Spark-first equivalent: at CREATE,
# the standing query is rewritten to carry hidden partial-state columns
# for every decomposable aggregate (avg → (sum, count); stddev/variance
# → (count, sum, sum-of-squares); approx_count_distinct → a mergeable
# HLL sketch). count/sum/min/max are their own partials. view_table
# hides the partial columns (PipelineDB's overlay view over the mrel);
# combine() re-aggregates them under any regrouping.

PARTIAL_SEP = "__pkpart_"

# aggregates whose FINAL value is its own combinable partial
_CB_DIRECT = {"count": "count", "sum": "sum", "min": "min", "max": "max"}
# aggregates needing hidden state columns; canonical-name map
_CB_DECOMP = {
    "avg": "avg",
    "mean": "avg",
    "stddev": "stddev_samp",
    "stddev_samp": "stddev_samp",
    "variance": "var_samp",
    "var_samp": "var_samp",
    "approx_count_distinct": "approx_count_distinct",
    # percentile via a mergeable KLL quantile sketch partial (Apache
    # DataSketches, native in Spark 4.1) — PipelineDB's combine() over
    # percentile transition states (its tdigest), Spark-first
    "approx_percentile": "approx_percentile",
    "percentile_approx": "approx_percentile",
}
def parse_combine_view_sql(sql: str) -> dict[str, dict] | None:
    """Best-effort SELECT-list analysis for combine() support: returns
    alias → {fn, arg} for every combinable aggregate in a single flat
    SELECT, or None when the SQL shape (joins-with-subqueries, UNION,
    nested SELECT) is out of scope — the view still works, combine()
    just reports itself unavailable. Non-combinable items (exact
    DISTINCT aggregates, expressions OVER aggregates like
    ``sum(x)/sum(y) AS r`` or ``avg(a)-avg(b) AS d``) are simply left
    out of the map: combine() on them raises with the available set."""
    strmask = _outside_string_mask(sql)
    selects = [
        m for m in _re.finditer(r"\bSELECT\b", sql, _re.I)
        if strmask[m.start()]
    ]
    if len(selects) != 1 or _re.search(r"\bUNION\b", sql, _re.I):
        return None
    parts = _split_select_from(sql)
    if parts is None:
        return None
    specs: dict[str, dict] = {}
    for item in _split_select_items(parts[1]):
        call = _whole_item_call(item)
        if call is None:
            continue
        fn, arg = call[0].lower(), call[1]
        if _re.match(r"^distinct\b", arg, _re.I):
            continue  # exact DISTINCT finals don't merge
        am = _re.search(r"\bAS\s+(\w+)\s*$", item, _re.I)
        alias = am.group(1)
        if fn in _CB_DIRECT:
            specs[alias] = {"fn": _CB_DIRECT[fn], "arg": arg}
        elif _CB_DECOMP.get(fn) == "approx_percentile":
            # approx_percentile(x, p[, accuracy]): p must be a literal
            # (the merge expression needs it at parse time); accuracy is
            # dropped — the KLL partial's own accuracy (k=200, ~1.65%
            # rank error) governs the combined estimate
            args = _split_select_items(arg)
            if len(args) < 2:
                continue
            try:
                p = float(args[1])
            except ValueError:
                continue  # non-literal percentage: not combinable
            if not 0.0 <= p <= 1.0:
                continue
            specs[alias] = {
                "fn": "approx_percentile",
                "arg": args[0],
                "p": p,
            }
        elif fn in _CB_DECOMP:
            specs[alias] = {"fn": _CB_DECOMP[fn], "arg": arg}
    return specs or None


def combine_partial_cols(specs: dict[str, dict]) -> dict[str, str]:
    """Hidden partial-state columns the standing query must carry:
    column name → aggregate SQL producing it. Sums feeding avg/variance
    are cast to DOUBLE so combine's division is exact float math
    regardless of the input's integral type."""
    cols: dict[str, str] = {}
    for alias, spec in specs.items():
        fn, arg = spec["fn"], spec["arg"]
        d = f"CAST(({arg}) AS DOUBLE)"
        if fn == "avg":
            cols[f"{alias}{PARTIAL_SEP}s"] = f"sum({d})"
            cols[f"{alias}{PARTIAL_SEP}c"] = f"count({arg})"
        elif fn in ("stddev_samp", "var_samp"):
            cols[f"{alias}{PARTIAL_SEP}s"] = f"sum({d})"
            cols[f"{alias}{PARTIAL_SEP}c"] = f"count({arg})"
            cols[f"{alias}{PARTIAL_SEP}q"] = f"sum({d} * {d})"
        elif fn == "approx_count_distinct":
            # the partial is the MERGEABLE sketch, not the estimate
            cols[f"{alias}{PARTIAL_SEP}h"] = f"hll_sketch_agg({arg})"
        elif fn == "approx_percentile":
            # mergeable KLL quantile sketch (binary column in the
            # matrel); O(k)=O(200) state per group regardless of how
            # many rows fed it — the sketch property that makes
            # percentile regrouping scale
            cols[f"{alias}{PARTIAL_SEP}k"] = (
                f"kll_sketch_agg_double(CAST(({arg}) AS DOUBLE))"
            )
    return cols


def combine_rewrite_sql(sql: str, specs: dict[str, dict]) -> str:
    """Append the hidden partial-state columns to the view's SELECT list
    (the sw_rewrite_sql pattern): they are aggregates, so the GROUP BY
    is untouched and Catalyst computes them in the same hash-aggregate
    pass as the user's columns — partial maintenance is free at write
    time, paid only by matrel width."""
    extras = combine_partial_cols(specs)
    if not extras:
        return sql
    parts = _split_select_from(sql)
    if parts is None:
        return sql
    head, select_list, rest = parts
    extra_sql = ", ".join(f"{expr} AS {name}" for name, expr in extras.items())
    return f"{head}{select_list}, {extra_sql} {rest}"


def combine_select_expr(
    alias: str, fn: str, sw: bool = False, spec: dict | None = None
) -> str:
    """The SQL expression that merges partials for one aggregate under a
    new grouping — exactly PipelineDB's combine() transition-state
    merge, spelled as stock Spark SQL so it stays whole-stage-codegen
    JVM work at any scale. In an sw view's matrel the approx-distinct
    SKETCH lives in the alias column itself (one per (group, step));
    non-sw views keep it in a hidden partial column."""
    s, c, q = (f"{alias}{PARTIAL_SEP}{k}" for k in ("s", "c", "q"))
    if fn in ("count", "sum"):
        return f"sum({alias})"
    if fn == "min":
        return f"min({alias})"
    if fn == "max":
        return f"max({alias})"
    if fn == "avg":
        return f"(sum({s}) / sum({c}))"
    if fn == "var_samp":
        return (
            f"((sum({q}) - pow(sum({s}), 2) / sum({c})) / (sum({c}) - 1))"
        )
    if fn == "stddev_samp":
        return (
            f"sqrt((sum({q}) - pow(sum({s}), 2) / sum({c}))"
            f" / (sum({c}) - 1))"
        )
    if fn == "approx_count_distinct":
        col = alias if sw else f"{alias}{PARTIAL_SEP}h"
        return f"hll_sketch_estimate(hll_union_agg({col}))"
    if fn.startswith("approx_percentile"):
        # non-sw specs carry p in spec["p"]; sw agg maps encode it in
        # the fn string itself ("approx_percentile:<p>")
        if ":" in fn:
            p = float(fn.split(":", 1)[1])
        else:
            p = (spec or {}).get("p", 0.5)
        col = alias if sw else f"{alias}{PARTIAL_SEP}k"
        return (
            f"kll_sketch_get_quantile_double("
            f"kll_merge_agg_double({col}), {p})"
        )
    raise ValueError(f"no combine merge for aggregate {fn!r}")


def has_hidden_partials(specs: dict[str, dict] | None) -> bool:
    return bool(specs) and any(
        s["fn"] not in ("count", "sum", "min", "max") for s in specs.values()
    )


def drop_partial_cols(df: DataFrame) -> DataFrame:
    hidden = [c for c in df.columns if PARTIAL_SEP in c]
    return df.drop(*hidden) if hidden else df


def combine_view(
    df: DataFrame, group_cols: list[str], specs: dict[str, dict]
) -> DataFrame:
    """Re-aggregate a matrel (partials included) under group_cols —
    the Python-API form of ``SELECT g, combine(a) FROM v GROUP BY g``.
    One hash aggregate over O(view groups) rows, never the raw stream."""
    aggs = [
        F.expr(
            combine_select_expr(alias, spec["fn"], spec=spec)
        ).alias(alias)
        for alias, spec in specs.items()
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def sw_combine(
    df: DataFrame,
    sw_seconds: int,
    sw_aggs: dict[str, str],
    sw_group_cols: list[str],
) -> DataFrame:
    """Read-time recombination: keep the steps whose bucket end falls
    inside the trailing window, re-aggregate partials per group."""
    cutoff = F.current_timestamp() - F.expr(
        f"INTERVAL {int(sw_seconds)} SECOND"
    )
    live = df.filter(F.col(f"{SW_BUCKET_COL}.end") > cutoff)

    def merge_agg(alias, fn):
        if fn.startswith("approx_percentile:"):
            p = float(fn.split(":", 1)[1])
            return F.expr(
                f"kll_sketch_get_quantile_double("
                f"kll_merge_agg_double({alias}), {p})"
            ).alias(alias)
        return _SW_COMBINE[fn](F.col(alias)).alias(alias)

    aggs = [merge_agg(alias, fn) for alias, fn in sw_aggs.items()]
    if sw_group_cols:
        return live.groupBy(*sw_group_cols).agg(*aggs)
    return live.agg(*aggs)
