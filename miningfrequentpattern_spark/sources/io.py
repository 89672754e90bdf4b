"""Sources and sinks (SURVEY.md §2.1, S1-S5).

The fixture tables are single parquet files per TESTDATA.md. At 100 TB
each "table" would be a partitioned parquet/Delta directory; nothing
here assumes single-file layout — `spark.read.parquet` takes
directories, globs, and file lists identically.

Column pruning and predicate pushdown are free as long as callers keep
plans declarative: `load_table(...).select(...).filter(...)` compiles
to a parquet scan with `ReadSchema`/`PushedFilters` populated (verified
via .explain in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# True dimension tables: always small relative to facts at any scale
# factor (region=5, nation=25 rows at every SF). Broadcast candidates.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# Columns whose parquet physical type has varied across fixture
# regenerations to TIMESTAMP(NANOS) — readable only as epoch-nanos
# BIGINT under spark.sql.legacy.parquet.nanosAsLong (session conf);
# load_table converts them back to microsecond timestamps.
_NANOS_VARIANT_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
}


def _normalize_timestamps(df: DataFrame, table: str) -> DataFrame:
    """Shared timestamp normalization for BOTH the batch and stream
    readers (code-review r9: read_events_stream carried a hardcoded
    -'ts' copy of this logic that a fixture regeneration adding a
    second nanos-variant column would silently type-break): every
    column the fixture history has shipped as TIMESTAMP(NANOS) gets
    the BIGINT-nanos guard (_NANOS_VARIANT_COLS, per table — keying
    on one column was the r8 finding), and TIMESTAMP_NTZ casts to
    session-local TIMESTAMP."""
    for cname in _NANOS_VARIANT_COLS.get(table, ()):
        if dict(df.dtypes).get(cname) == "bigint":
            df = df.withColumn(
                cname, F.timestamp_micros(F.expr(f"{cname} div 1000"))
            )
    for cname, ctype in df.dtypes:
        if ctype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: parquet scan of one fixture table.

    Timestamp normalization: fixture generations have varied the
    physical type of `events.ts` / `orders.o_orderdate` — TIMESTAMP
    (NANOS) (readable only as epoch-nanos BIGINT under
    `spark.sql.legacy.parquet.nanosAsLong=true`, set in
    session.RUNTIME_CONF) and, currently, TIMESTAMP(MICROS) with
    isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ.
    Every operator and SQL oracle in this repo was written against
    session-local TIMESTAMP (the sessions run UTC), and NTZ rejects
    numeric casts (`cast(ts as double)`), so both variants are
    normalized at the load boundary by _normalize_timestamps: BIGINT
    nanos → timestamp_micros, TIMESTAMP_NTZ → TIMESTAMP. Under a UTC
    session the NTZ cast is wall-clock-identity, exactly what
    DuckDB's naive `ts::TIMESTAMP` yields, keeping oracle parity.
    Only affected columns are wrapped, so pushdown/pruning on every
    other column is untouched (verified in tests/test_plans.py).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _normalize_timestamps(df, name)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def read_transactions_text(
    spark: SparkSession, path: str, sep: str = " "
) -> DataFrame:
    """S2: the reference's native input — one basket per text line.

    Returns schema (txn_id BIGINT, items ARRAY<STRING>) with items
    deduplicated and sorted, ready for FPGrowth. This is the classic
    FIMI/market-basket file format (SURVEY.md §1.1).

    Robustness pins (code-review r8): `sep` is treated as a LITERAL
    separator (F.split takes a regex — an unescaped '|' would split
    every character), empty items from repeated separators are
    dropped ('a  b' is two items, not three), and blank lines vanish
    instead of becoming a one-empty-item basket FPGrowth would mine
    as item ''.
    """
    import re as _re

    lines = spark.read.text(path)
    return lines.select(
        F.monotonically_increasing_id().alias("txn_id"),
        F.sort_array(
            F.array_distinct(
                F.array_remove(
                    F.split(F.trim(F.col("value")), _re.escape(sep)),
                    "",
                )
            )
        ).alias("items"),
    ).filter(F.size("items") > 0)


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """S3: CSV ingestion; explicit schema preferred (no inference job)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """S3: JSON-lines ingestion."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:  # noqa: ANN001
    """S3: ORC ingestion (bundled reader — same pushdown/pruning
    machinery as parquet; `.explain` shows PushedFilters on ORC scans
    identically). Pass the writer's `schema` for round-trips: an
    empty input writes a fileless directory, and a schema-inferred
    read then throws UNABLE_TO_INFER_SCHEMA instead of returning the
    empty relation the round-trip contract owes (the s04/s05 pin,
    extended here in the r10 sweep)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4: ORC sink — the columnar alternative for Hive-ecosystem
    consumers; same partitioning guidance as write_parquet."""
    df.write.mode(mode).orc(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """S4: result sink. At scale, partition by a low-cardinality key so
    downstream partition pruning works; never partition by a high-card
    key (small-files problem)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: replay the events fixture as a Structured Streaming source.

    Uses the parquet file-stream source with the batch-inferred schema
    (streaming reads require an explicit schema). `maxFilesPerTrigger=1`
    keeps micro-batches deterministic in tests.
    """
    # Raw (pre-conversion) schema: under nanosAsLong the reader yields
    # ts as BIGINT; the stream must declare the same, then convert.
    batch_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    # The file-stream source requires a DIRECTORY; select the single
    # fixture file out of sf_dir with a glob filter.
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # The SAME normalization seam as load_table — one contract, two
    # readers (code-review r9: a hardcoded 'ts' copy lived here).
    return _normalize_timestamps(stream, "events")


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema=None,
) -> DataFrame:
    """S3 (XML, built into Spark 4): record-oriented XML ingestion.
    XML is row-at-a-time parsed (no columnar pushdown) — at scale it
    is an INGESTION format only: read once, convert to parquet, query
    the parquet. Pass `schema` for round trips that must survive an
    EMPTY write: with zero records there is nothing to infer from,
    so an inferred read comes back column-less."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite"
) -> None:
    """S4 (XML sink): for handoff to XML-consuming systems only —
    never as an analytic layout (text-encoded, unsplittable values,
    no stats)."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    op_col: str | None = None,
    delete_marker: str = "D",
    base_schema=None,
) -> None:
    """MERGE (upsert + optional delete) into a hive-partitioned
    parquet table, rewriting ONLY the partitions the updates touch —
    the lakehouse maintenance primitive (Delta/Iceberg MERGE INTO)
    expressed with plain parquet + dynamic partition overwrite:

      survivors = base ⟕anti updates  (per key, within touched
                  partitions only)
      output    = survivors ∪ updates[op != delete_marker]
      write     = dynamic-overwrite partitionBy(partition_col)

    Scale posture: cost ∝ the TOUCHED partitions, never the table.
    The base read is pruned by a broadcast LEFT-SEMI join against the
    updates' distinct partition values — at cluster scale that join
    is exactly the shape Spark's dynamic partition pruning rewrites
    into a scan-level partition filter, so the untouched history is
    never read, and dynamic overwrite guarantees it is never
    REWRITTEN either (only partitions present in the output frame are
    replaced). The update keys join is a broadcast anti-join when the
    update batch is dimension-sized (hinted), the common daily-merge
    case. NULL merge keys are rejected: a NULL key can never match
    its target row (SQL equality), so the "update" would silently
    duplicate — the caller must resolve identity first.

    When `op_col` is given, rows whose op equals `delete_marker` act
    as tombstones: their keys are removed and the rows themselves are
    not re-inserted (Debezium-style deletes); every other op value is
    an upsert. The op column is dropped from what lands in the table.
    A delete batch that empties a touched partition entirely is
    handled explicitly: dynamic overwrite only replaces partitions
    PRESENT in the output frame, so an all-tombstoned partition would
    otherwise keep its old files and resurrect the "deleted" keys —
    the emptied partitions' directories are removed after the write
    commits (ADVICE r6; local-FS delete with the dir_parquet_bytes
    stance: non-local URIs raise rather than silently no-op).

    CONTRACT — the partition value is immutable per key: an update
    must carry the same `partition_col` value as the base row it
    replaces (equivalently: make the partition column part of the
    key). An update that "moves" a key between partitions would leave
    the stale row alive in its old partition (the anti-join only sees
    the partitions the updates claim to touch). Moves BETWEEN two
    touched partitions are cheaply detectable and rejected here; a
    move whose old partition is untouched is invisible without a
    full-table key scan — that case is the caller's contract.
    """
    if base_schema is None:
        # Inference needs at least one data file; an EMPTY base table
        # (a fileless directory — routine at scale: the table was
        # created before data landed) has no inferable schema, so the
        # caller must pass `base_schema` explicitly (the s04/s05/s08
        # writer-schema precedent). Failing here would make the FIRST
        # merge into a new table impossible.
        base_schema = spark.read.parquet(path).schema
    up_cols = set(updates.columns) - ({op_col} if op_col else set())
    if up_cols != set(base_schema.fieldNames()):
        raise ValueError(
            "merge_upsert_partitioned: updates schema must match the "
            f"base table; base={sorted(base_schema.fieldNames())} "
            f"updates={sorted(up_cols)}"
        )
    # Types too, not just names (code-review r9): with ANSI off a
    # v DOUBLE base unioned with v STRING updates coerces to STRING
    # and dynamic overwrite writes touched partitions with a DIFFERENT
    # physical type than untouched ones — later reads fail with an
    # opaque footer-merge error (or silently pick one type).
    # Nullability-normalized comparison (ADVICE r9): strict DataType
    # equality includes NESTED nullability (array containsNull, struct
    # field nullable), so an updates batch whose array<double> differs
    # from the base only in containsNull would be rejected even though
    # the union is lossless — a false-positive fail-fast.
    # simpleString() renders the type tree without nullability
    # markers, which is exactly the physical-type drift this guard
    # exists to catch.
    base_types = {f.name: f.dataType for f in base_schema.fields}
    drift = {
        f.name: (f.dataType, base_types[f.name])
        for f in updates.schema.fields
        if f.name in base_types
        and f.dataType.simpleString() != base_types[f.name].simpleString()
    }
    if drift:
        raise ValueError(
            "merge_upsert_partitioned: updates column type(s) differ "
            f"from the base table: { {k: (str(a), str(b)) for k, (a, b) in drift.items()} } "
            "— cast explicitly; a silent union coercion would write "
            "mixed physical types across partitions"
        )
    # The validation probes + move check + emptied collect + final
    # write would otherwise each re-evaluate the updates source
    # (~5 executions per merge, code-review r9). The batch is
    # dimension-sized BY CONTRACT — cache it for the call.
    updates = updates.cache()
    try:
        _merge_upsert_cached(
            spark, path, updates, keys, partition_col, op_col,
            delete_marker, base_schema,
        )
    finally:
        updates.unpersist()


def _merge_upsert_cached(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    op_col: str | None,
    delete_marker: str,
    base_schema,
) -> None:
    """Body of merge_upsert_partitioned, with `updates` cached."""
    null_keys = updates.filter(
        F.greatest(*[F.col(k).isNull() for k in keys])
        if len(keys) > 1
        else F.col(keys[0]).isNull()
    )
    if not null_keys.isEmpty():
        raise ValueError(
            "merge_upsert_partitioned: NULL merge key in updates — "
            "equality can never match the target row"
        )
    # Duplicate keys WITHIN the batch silently land as duplicate rows
    # (the anti-join removes one base row, then both updates insert).
    # The guard lived only in the cdc_merge_stream wrapper; it belongs
    # on the shared primitive (code-review r9). Batch-sized aggregate
    # on the cached updates — metadata cost.
    dupes = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )
    if not dupes.isEmpty():
        raise ValueError(
            "merge_upsert_partitioned: duplicate merge key(s) within "
            "one updates batch — collapse to one row per key first "
            "(e.g. keep the latest by your ordering column)"
        )
    base = spark.read.schema(base_schema).parquet(path)
    touched = updates.select(partition_col).distinct()
    # NULL-SAFE partition match: NULL partition values are legal
    # (they live in __HIVE_DEFAULT_PARTITION__) but plain equality
    # never matches NULL to NULL — a null-partition upsert would
    # silently drop every non-updated base row of that partition and
    # then tombstone the directory (code-review r8 finding).
    in_touched = base.join(
        F.broadcast(touched),
        base[partition_col].eqNullSafe(touched[partition_col]),
        "left_semi",
    )
    # Partition-immutability check (the visible half): a key whose
    # update claims a DIFFERENT partition than its base row within
    # the touched slice is a cross-partition move — the anti-join
    # below would delete the old row while a sibling update re-lands
    # the key elsewhere only by luck. Bounded cost: keyed join of the
    # touched slice against the (dimension-sized) update batch.
    # When the partition column IS part of the key, a cross-partition
    # move is impossible by construction (the key join enforces
    # partition equality) — and re-selecting it beside the keys would
    # duplicate the column name and break the USING join with an
    # AMBIGUOUS_REFERENCE (code-review r8 finding; this is the exact
    # configuration the contract note recommends).
    if partition_col not in keys:
        moved = in_touched.select(
            *keys, F.col(partition_col).alias("_base_part")
        ).join(
            F.broadcast(
                updates.select(*keys, partition_col).distinct()
            ),
            keys,
        ).filter(~F.col(partition_col).eqNullSafe(F.col("_base_part")))
        if not moved.isEmpty():
            raise ValueError(
                "merge_upsert_partitioned: update moves a key across "
                f"partitions ({partition_col} differs from the base "
                "row's) — the partition value is immutable per key; "
                "delete + re-insert explicitly instead"
            )
    # NULL-SAFE key anti-join (ADVICE r8): update-side NULL keys are
    # rejected above, so today eqNullSafe and plain equality agree —
    # but plain equality encodes that invariant IMPLICITLY (a future
    # relaxation of the guard would silently duplicate any base row
    # whose key never anti-matches). Null-safe matching makes the
    # delete-the-old-version step correct by construction; base-side
    # NULL-key rows (legacy data) still survive, because no update
    # can carry a NULL key to match them.
    upd_keys = F.broadcast(
        updates.select(*keys).distinct().alias("_mu")
    )
    surv_cond = None
    for k in keys:
        # backticks: a dotted key name must resolve as a plain column
        # of the _mu alias, not as nested-field access (code-review
        # r9 — the USING-style join this replaced handled it).
        c = in_touched[k].eqNullSafe(F.col(f"_mu.`{k}`"))
        surv_cond = c if surv_cond is None else surv_cond & c
    survivors = in_touched.join(upd_keys, surv_cond, "left_anti")
    inserts = updates
    if op_col is not None:
        # eqNullSafe: a NULL op must act as an UPSERT per the contract
        # ("every other op value is an upsert") — plain != evaluates
        # NULL for a NULL op and silently filtered the row out, so a
        # CDC feed with a missing op field DELETED the key
        # (code-review r9, the one silent-data-loss finding).
        inserts = updates.filter(
            ~F.col(op_col).eqNullSafe(F.lit(delete_marker))
        ).drop(op_col)
    # The output is both collected-from (emptied probe) and written:
    # a lazy localCheckpoint would pin corpus-touched-sized blocks,
    # so cache instead and release in the same call.
    out = survivors.unionByName(inserts).cache()
    try:
        # Partitions the batch touched but that end up with ZERO
        # output rows (all rows tombstoned, nothing re-inserted):
        # dynamic overwrite will not rewrite them, so their old files
        # must be removed explicitly or the deleted keys resurface on
        # next read. Dimension-sized driver materialization —
        # metadata for a write commit, not an operator hot path.
        out_parts = out.select(partition_col).distinct()
        emptied = [
            r[0]
            for r in touched.join(
                out_parts,
                # null-safe: a tombstoned NULL partition must land in
                # `emptied` (so __HIVE_DEFAULT_PARTITION__ is
                # cleaned), and a surviving NULL partition must NOT
                touched[partition_col].eqNullSafe(
                    out_parts[partition_col]
                ),
                "left_anti",
            ).collect()
        ]
        # FAIL FAST, before the irreversible write (code-review r9:
        # both cleanup refusals used to fire AFTER the commit,
        # leaving the table half-mutated with zombie partitions):
        # the non-local-URI refusal and the partition-value rendering
        # both run on the already-computed emptied list now.
        emptied_dirs = None
        if emptied:
            emptied_dirs = _renderable_partition_values(
                path, emptied
            )
        # Per-write option, NOT a session-conf flip (ADVICE r7): two
        # streams merging concurrently on one SparkSession would race
        # a set/restore of the shared conf; the DataFrameWriter
        # option scopes dynamic overwrite to exactly this commit.
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
        if emptied_dirs:
            _remove_partition_dirs(
                spark, path, partition_col, emptied_dirs
            )
    finally:
        out.unpersist()


def _renderable_partition_values(path: str, values: list) -> set[str]:
    """Pre-write validation + rendering of emptied-partition values
    (code-review r9: both refusals below used to fire AFTER the merge
    commit, leaving the table half-mutated with zombie partitions —
    they now run on the pre-computed emptied list BEFORE the write):

    - non-local URIs raise (the cleanup is a local-FS delete; the
      dir_parquet_bytes stance — refusing beats silently leaving the
      tombstoned partitions' files to resurrect deleted keys);
    - only value types whose Python rendering provably matches
      Spark's directory rendering are accepted: None
      (__HIVE_DEFAULT_PARTITION__), bool (Spark lowercases — the r8
      finding), str, int, and datetime.date (str() == Spark's
      yyyy-MM-dd). Timestamps and floats render DIFFERENTLY in
      Python str() than in Spark's dir names (fraction trimming,
      exponent casing), so the old str() fallback silently missed
      the directory — now a named error (code-review r9)."""
    import datetime

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"merge_upsert_partitioned: emptied-partition cleanup for "
            f"non-local URI {path!r} needs the Hadoop FileSystem API — "
            "refusing to leave the tombstoned partitions' files behind"
        )
    rendered = set()
    for v in values:
        if v is None:
            rendered.add("__HIVE_DEFAULT_PARTITION__")
        elif isinstance(v, bool):
            rendered.add("true" if v else "false")
        elif isinstance(v, (str, int)) or (
            isinstance(v, datetime.date)
            and not isinstance(v, datetime.datetime)
        ):
            rendered.add(str(v))
        else:
            raise ValueError(
                "merge_upsert_partitioned: cannot safely clean up an "
                f"emptied partition with value {v!r} "
                f"({type(v).__name__}): Python's rendering of this "
                "type differs from Spark's directory naming — use a "
                "string/int/date/bool partition column, or remove the "
                "directory yourself"
            )
    return rendered


def _remove_partition_dirs(
    spark: SparkSession, path: str, partition_col: str, rendered: set
) -> None:
    """Delete `<path>/<partition_col>=<escaped value>` directories for
    the given PRE-RENDERED partition values — the post-commit cleanup
    for partitions a MERGE emptied entirely (validation/rendering
    happens pre-write in _renderable_partition_values).

    Directory names are matched by LISTING and UNESCAPING (Spark's
    own ExternalCatalogUtils.unescapePathName via the JVM, falling
    back to URL-unquoting), never by re-formatting names — so escaped
    characters match exactly however Spark wrote them.
    """
    import shutil
    from urllib.parse import unquote

    root = path[len("file://"):] if path.startswith("file://") else path

    def _unescape(name: str) -> str:
        try:
            jvm = spark._jvm
            return (
                jvm.org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(name)
            )
        except Exception:
            return unquote(name)

    prefix = f"{partition_col}="
    for entry in os.listdir(root):
        full = os.path.join(root, entry)
        if not (os.path.isdir(full) and entry.startswith(prefix)):
            continue
        if _unescape(entry[len(prefix):]) in rendered:
            shutil.rmtree(full)


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S3 (malformed-input audit): CSV parsed PERMISSIVE with every
    unparsable/malformed line captured in `corrupt_col` instead of
    silently dropped (DROPMALFORMED) or crashing the job (FAILFAST) —
    the ingestion posture for feeds you do not control: load
    everything, QUARANTINE the garbage as data, alert on its rate.

    Built as `from_csv` over a text scan rather than
    `spark.read.csv(columnNameOfCorruptRecord=...)`: the csv reader's
    internal corrupt column CANNOT be referenced in a filter/agg
    without caching the whole frame first (a documented Spark
    restriction — and a corpus-sized cache is exactly the wrong move
    at scale); the from_csv form makes the corrupt column an ordinary
    expression, one scan, no cache, full codegen. A row is malformed
    iff `corrupt_col IS NOT NULL` (type failure, wrong column count —
    under-full rows still surface their parsable prefix AND the raw
    line, so the caller chooses strictness).
    """
    return _read_permissive(spark, path, schema_ddl, corrupt_col, F.from_csv)


def read_json_permissive(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S3 (malformed-input audit, JSON twin of read_csv_permissive):
    JSON-lines parsed PERMISSIVE with every syntactically broken line
    quarantined in `corrupt_col` — same from_json-over-text-scan
    construction, same reasons (the json reader's internal corrupt
    column carries the same filter-needs-a-cache restriction; the
    expression form is one scan, full codegen).

    JSON-specific semantics pinned in tests (probed, not assumed): a
    TYPE-mismatched field nulls that field, KEEPS every other
    parsable field, and still quarantines the raw line (Spark treats
    any schema violation as corrupt — the caller distinguishes
    "partially parsed" from "syntactically dead" by whether typed
    columns survived); broken syntax (truncated object, bare text)
    quarantines with all-NULL fields; fields ABSENT from the object
    are plain NULLs with NO quarantine (schema evolution, not
    corruption — the one case that differs from CSV's positional
    short-row behavior).
    """
    return _read_permissive(spark, path, schema_ddl, corrupt_col, F.from_json)


def _read_permissive(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    corrupt_col: str,
    parser,
) -> DataFrame:
    """Shared quarantine-parse pipeline for the permissive CSV/JSON
    readers — one definition of the text scan, the corrupt-column DDL
    extension, and the PERMISSIVE options, so the two formats' audit
    contracts cannot drift (the shifted_pairs factoring stance)."""
    ddl = f"{schema_ddl}, {corrupt_col} STRING"
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col}
    return (
        spark.read.text(path)
        .select(parser(F.col("value"), ddl, opts).alias("_p"))
        .select("_p.*")
    )
