"""Artifact-surface certifications (SURVEY §2 A-family closers): the
lakehouse-lite artifacts — snapshot time travel (A23), the semantic
result cache (A18), the inverted postings index (A17), the idempotent
daily backfill (C22), small-file compaction (A22), and schema-evolution
reads (A19) — certified against the DuckDB oracle END-TO-END, the same
gap-closing move operators/stream_parity.py makes for the sink family.

Each query builds the artifact in a per-run scratch directory with the
REAL production code path (commit_snapshot/read_as_of, cached,
write_postings/lookup_terms, backfill, plan_compaction/
execute_compaction, read_evolved), answers a question THROUGH the
artifact — a time-travel read, a cache-served read, an index-only
lookup, a post-rewrite scan — and proves the answer equals a direct
DuckDB recomputation from the raw tables.  The artifact machinery is
what's under test; the oracle never sees it.

Results are collected (bounded frames) before the scratch is removed.

Scale: artifact construction here runs at certification SF; the
artifacts' own 100 TB arguments live in their modules (footer-only
snapshot commits, canonical-plan cache keys, term-sorted postings with
row-group pruning, per-partition-dir bin packing, footer-grouped
evolution reads).

Reference scope: beyond-reference production surface (the reference
writes bare parquet with no table/versioning layer — train.py:49-56).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiveg_spark.plans.plan_ledger import collected, note_precollect
from fiveg_spark.plans.registry import Query, ensure_views

N_WAVES = 4


def _scratch() -> str:
    return tempfile.mkdtemp(prefix="fiveg_artifacts_")


# --------------------------------------------------------------------------
# A23 — snapshot time travel: every historical version re-readable exactly
# --------------------------------------------------------------------------


def _time_travel_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four cumulative crawl waves (docs with doc_id % 4 == wave) land
    as appends, each committed as a snapshot version; then EVERY
    version is read back via read_as_of and aggregated.  Version v must
    contain exactly the docs with doc_id % 4 < v — byte-growth history
    reconstructed from footer-level snapshots alone.  rows_added checks
    diff_versions against the same closed form."""
    from fiveg_spark.sources import snapshots

    table = _scratch() + "/docs"
    try:
        ensure_views(spark, ("documents",), sf_dir)
        docs = spark.sql(
            "SELECT doc_id, source, n_chars FROM documents"
        )
        versions = []
        for wave in range(N_WAVES):
            docs.filter(F.col("doc_id") % N_WAVES == wave).write.mode(
                "append"
            ).parquet(table)
            versions.append(snapshots.commit_snapshot(table))

        rows = []
        prev_rows = 0
        for v in versions:
            agg = note_precollect(snapshots.read_as_of(spark, table, v).agg(
                F.count("*").alias("n"),
                F.sum("n_chars").alias("chars"),
                F.countDistinct("source").alias("srcs"),
            )).head()
            added = (
                int(agg["n"]) - prev_rows
                if v == versions[0]
                else snapshots.diff_versions(table, v - 1, v)["rows_added"]
            )
            prev_rows = int(agg["n"])
            rows.append(
                (int(v), int(agg["n"]), int(agg["chars"]),
                 int(agg["srcs"]), int(added))
            )
        return spark.createDataFrame(
            rows,
            "version LONG, n_docs LONG, sum_chars LONG, n_sources LONG,"
            " rows_added LONG",
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)


def _time_travel_oracle() -> str:
    versions = " UNION ALL ".join(
        f"SELECT {v} AS version" for v in range(1, N_WAVES + 1)
    )
    return f"""
    WITH versions AS ({versions})
    SELECT
      CAST(v.version AS BIGINT) AS version,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
      CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
      CAST(sum(CASE WHEN d.doc_id % {N_WAVES} = v.version - 1
               THEN 1 ELSE 0 END) AS BIGINT) AS rows_added
    FROM versions v
    JOIN documents d ON d.doc_id % {N_WAVES} < v.version
    GROUP BY v.version
    ORDER BY version
    """


# --------------------------------------------------------------------------
# A18 — result cache: a cache-SERVED read returns the exact result
# --------------------------------------------------------------------------


def _cache_served_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute daily per-type counts once (miss → the store
    materializes), rebuild the same logical plan and serve it FROM the
    cache: is_cached must see the semantic hit, and the served rows —
    read from cache files only — must equal the direct recomputation.
    A third, genuinely different plan must MISS (key discrimination on
    the certified path, not just in pytest)."""
    from fiveg_spark.plans import result_cache

    store = _scratch()
    try:
        ensure_views(spark, ("events",), sf_dir)

        def build() -> DataFrame:
            return spark.sql(
                "SELECT event_type,"
                " CAST(floor(CAST(unix_micros(ts) AS DOUBLE) / 1000000.0"
                " / 86400.0) AS BIGINT) AS day,"
                " CAST(count(*) AS BIGINT) AS n_events"
                " FROM events GROUP BY event_type, day"
            )

        result_cache.cached(spark, build(), store)  # miss: materializes
        rebuilt = build()
        hit = result_cache.is_cached(rebuilt, store)
        other = spark.sql("SELECT count(*) AS n FROM events")
        miss_discriminated = not result_cache.is_cached(other, store)
        served = result_cache.cached(spark, rebuilt, store)
        out = served.select(
            "event_type",
            "day",
            "n_events",
            F.lit(bool(hit)).alias("served_from_cache"),
            F.lit(bool(miss_discriminated)).alias("other_plan_missed"),
        ).orderBy("event_type", "day")
        return collected(
            spark,
            out,
            "event_type STRING, day LONG, n_events LONG,"
            " served_from_cache BOOLEAN, other_plan_missed BOOLEAN",
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)


def _cache_served_oracle() -> str:
    return """
    SELECT
      event_type,
      CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 / 86400.0)
           AS BIGINT) AS day,
      CAST(count(*) AS BIGINT) AS n_events,
      TRUE AS served_from_cache,
      TRUE AS other_plan_missed
    FROM events
    GROUP BY event_type, day
    ORDER BY event_type, day
    """


# --------------------------------------------------------------------------
# A17 — postings index: an index-only term lookup equals the corpus scan
# --------------------------------------------------------------------------

IDX_TOP_TERMS = 3


def _postings_lookup_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the postings artifact, pick the top-3 terms by document
    frequency FROM THE INDEX (df desc, term asc — deterministic), and
    answer per-term statistics from posting rows alone: df, total tf,
    max tf, and the max-tf document (min doc_id tiebreak).  Global
    n_docs/avgdl ride along from the stats file.  The oracle re-derives
    everything from `documents` with the index's exact tokenizer."""
    from fiveg_spark.sources import postings

    path = _scratch()
    try:
        ensure_views(spark, ("documents",), sf_dir)
        docs = spark.sql("SELECT doc_id, text FROM documents")
        postings.write_postings(spark, docs, path)

        post = spark.read.parquet(f"{path}/postings")
        top = [
            r["term"]
            for r in post.orderBy(F.desc("df"), F.asc("term"))
            .limit(IDX_TOP_TERMS)
            .collect()
        ]
        hits = (
            postings.lookup_terms(spark, path, top)
            .select("term", "df", F.explode("postings").alias("p"))
            .select(
                "term", "df",
                F.col("p.doc_id").alias("doc_id"),
                F.col("p.tf").alias("tf"),
            )
        )
        stats = spark.read.parquet(f"{path}/stats").head()
        from pyspark.sql.window import Window

        # per-term max tf attaches via a window over the (tiny) hit
        # frame so the champion doc resolves in the same aggregation
        enriched = hits.withColumn(
            "mx", F.max("tf").over(Window.partitionBy("term"))
        )
        out = (
            enriched.groupBy("term")
            .agg(
                F.first("df").alias("df"),
                F.sum("tf").alias("total_tf"),
                F.max("tf").alias("max_tf"),
                F.min(
                    F.when(F.col("tf") == F.col("mx"), F.col("doc_id"))
                ).alias("top_doc_id"),
            )
            .select(
                "term",
                F.col("df").cast("long"),
                F.col("total_tf").cast("long"),
                F.col("max_tf").cast("long"),
                F.col("top_doc_id").cast("long"),
                F.lit(int(stats["n_docs"])).alias("n_docs"),
                F.round(F.lit(float(stats["avgdl"])) + 1e-9, 4).alias(
                    "avgdl"
                ),
            )
            .orderBy("term")
        )
        return collected(
            spark,
            out,
            "term STRING, df LONG, total_tf LONG, max_tf LONG,"
            " top_doc_id LONG, n_docs LONG, avgdl DOUBLE",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _postings_lookup_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM documents,
           unnest(string_split_regex(lower(text), ' +')) AS t(term)
      GROUP BY doc_id, t.term
    ),
    by_term AS (
      SELECT term, count(*) AS df, sum(tf) AS total_tf, max(tf) AS max_tf
      FROM tf GROUP BY term
    ),
    top AS (
      SELECT term, df, total_tf, max_tf
      FROM by_term
      ORDER BY df DESC, term ASC
      LIMIT {IDX_TOP_TERMS}
    ),
    champions AS (
      SELECT t.term, min(f.doc_id) AS top_doc_id
      FROM top t
      JOIN tf f ON f.term = t.term AND f.tf = t.max_tf
      GROUP BY t.term
    ),
    doclens AS (
      SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
      FROM doclens
    )
    SELECT
      t.term,
      CAST(t.df AS BIGINT) AS df,
      CAST(t.total_tf AS BIGINT) AS total_tf,
      CAST(t.max_tf AS BIGINT) AS max_tf,
      CAST(c.top_doc_id AS BIGINT) AS top_doc_id,
      s.n_docs,
      round(s.avgdl + 1e-9, 4) AS avgdl
    FROM top t
    JOIN champions c ON c.term = t.term
    CROSS JOIN stats s
    ORDER BY t.term
    """


QUERIES = [
    Query("snapshot_time_travel_audit", _time_travel_run,
          _time_travel_oracle()),
    Query("result_cache_served", _cache_served_run,
          _cache_served_oracle()),
    Query("postings_index_lookup", _postings_lookup_run,
          _postings_lookup_oracle()),
]


# --------------------------------------------------------------------------
# C22 — idempotent daily backfill: subset re-run leaves the store exact
# --------------------------------------------------------------------------


def _backfill_audit_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full backfill of the daily 36-KPI store, then a 3-day SUBSET
    re-run (the scheduler-retry case dynamic partition overwrite
    exists for): the re-run must rewrite exactly its partitions with
    identical content, so the store equals the direct kpi36 rollup —
    no duplicate windows, no lost days."""
    import datetime

    from fiveg_spark.pipelines import backfill as bf

    store = _scratch() + "/kpi_daily"
    try:
        bf.backfill(spark, sf_dir, store)
        days = sorted(
            r["day"]
            for r in spark.read.parquet(store).select("day").distinct().collect()
        )
        redo = [d for d in days[1:4] if isinstance(d, datetime.date)]
        if redo:
            bf.backfill(spark, sf_dir, store, days=redo)

        out = (
            spark.read.parquet(store)
            .groupBy("slice")
            .agg(
                F.countDistinct("day").alias("n_days"),
                F.count("*").alias("n_windows"),
                F.sum("Total_Packets").alias("total_packets"),
                F.round(F.sum("Throughput_bps") + 1e-9, 4).alias(
                    "sum_throughput_bps"
                ),
            )
            .select(
                "slice",
                F.col("n_days").cast("long"),
                F.col("n_windows").cast("long"),
                F.col("total_packets").cast("long"),
                "sum_throughput_bps",
            )
            .orderBy("slice")
        )
        return collected(
            spark,
            out,
            "slice STRING, n_days LONG, n_windows LONG,"
            " total_packets LONG, sum_throughput_bps DOUBLE",
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)


def _backfill_audit_oracle() -> str:
    # the same events→packets→flows CTE prefix the certified kpi36
    # oracle uses, with only the two audited KPI columns recomputed
    # (their KPIS entries) at the hourly grain
    from fiveg_spark.operators.kpi import flows_cte, kpi_as

    return f"""
    {flows_cte("duckdb")},
    k AS (
      SELECT
        slice,
        date_trunc('hour', ts) AS window_start,
        {kpi_as("Total_Packets", "Total_Packets", "duckdb")},
        {kpi_as("Throughput_bps", "Throughput_bps", "duckdb")}
      FROM flows
      GROUP BY slice, date_trunc('hour', ts)
    )
    SELECT
      slice,
      CAST(count(DISTINCT CAST(window_start AS DATE)) AS BIGINT) AS n_days,
      CAST(count(*) AS BIGINT) AS n_windows,
      CAST(sum(Total_Packets) AS BIGINT) AS total_packets,
      round(sum(Throughput_bps) + 1e-9, 4) AS sum_throughput_bps
    FROM k
    GROUP BY slice
    ORDER BY slice
    """


# --------------------------------------------------------------------------
# A22 — compaction: content survives the rewrite byte-for-byte
# --------------------------------------------------------------------------


def _compaction_parity_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment events into a day-partitioned table with 4 small files
    per partition, compact with the A22 planner/executor, and prove
    the rewritten table still answers exactly: per event_type counts,
    distinct days, value sums — plus the structural claim that every
    partition collapsed to one file (TRUE on both sides)."""
    from fiveg_spark.plans import compaction

    table = _scratch() + "/events_daily"
    try:
        ensure_views(spark, ("events",), sf_dir)
        ev = spark.sql(
            "SELECT event_type, user_id, value,"
            " CAST(floor(CAST(unix_micros(ts) AS DOUBLE) / 1000000.0"
            " / 86400.0) AS BIGINT) AS day"
            " FROM events"
        )
        ev.repartition(4).write.partitionBy("day").parquet(table)
        files_before = len(compaction._parquet_files(table))
        plan = compaction.plan_compaction(table)
        compaction.execute_compaction(spark, plan, restamp_manifest=False)
        files_after = len(compaction._parquet_files(table))
        n_days = spark.read.parquet(table).select("day").distinct().count()
        compacted_ok = bool(
            files_before > files_after and files_after <= n_days
        )

        out = (
            spark.read.parquet(table)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("day").alias("n_days"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
            )
            .select(
                "event_type",
                F.col("n_events").cast("long"),
                F.col("n_days").cast("long"),
                F.col("n_users").cast("long"),
                "sum_value",
                F.lit(compacted_ok).alias("compacted_to_single_files"),
            )
            .orderBy("event_type")
        )
        return collected(
            spark,
            out,
            "event_type STRING, n_events LONG, n_days LONG, n_users LONG,"
            " sum_value DOUBLE, compacted_to_single_files BOOLEAN",
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)


def _compaction_parity_oracle() -> str:
    return """
    SELECT
      event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(count(DISTINCT CAST(floor(CAST(epoch_us(ts) AS DOUBLE)
           / 1000000.0 / 86400.0) AS BIGINT)) AS BIGINT) AS n_days,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      round(sum(value) + 1e-9, 4) AS sum_value,
      TRUE AS compacted_to_single_files
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


# --------------------------------------------------------------------------
# A19 — schema evolution: three generations + a poisoned file read as one
# --------------------------------------------------------------------------


def _evolution_read_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write three schema generations of the events feed (v1: id+value;
    v2: adds user_id; v3: value narrowed to FLOAT and event_type added)
    plus one incompatible file (value as STRING), then read the
    directory through read_evolved: the merged frame must carry typed
    NULLs for pre-evolution columns, exact FLOAT→DOUBLE widening for
    v3 values, and the poisoned file must land in quarantine — never in
    the frame."""
    from pyspark.sql import types as T

    from fiveg_spark.sources import evolution

    path = _scratch()
    try:
        ensure_views(spark, ("events",), sf_dir)
        ev = spark.sql(
            "SELECT event_id, user_id, event_type, value,"
            " event_id % 3 AS gen FROM events"
        ).localCheckpoint()
        ev.filter("gen = 0").select("event_id", "value").write.parquet(
            f"{path}/v1"
        )
        ev.filter("gen = 1").select(
            "event_id", "user_id", "value"
        ).write.parquet(f"{path}/v2")
        ev.filter("gen = 2").select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").cast("float").alias("value"),
        ).write.parquet(f"{path}/v3")
        spark.createDataFrame(
            [(999_999_999, "not-a-number")], "event_id LONG, value STRING"
        ).coalesce(1).write.parquet(f"{path}/poison")

        target = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        merged, quarantined = evolution.read_evolved(spark, path, target)
        out = merged.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("user_id").isNull().cast("long")).alias(
                "n_null_user"
            ),
            F.sum(F.col("event_type").isNull().cast("long")).alias(
                "n_null_type"
            ),
            F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
        ).select(
            F.col("n_rows").cast("long"),
            F.col("n_null_user").cast("long"),
            F.col("n_null_type").cast("long"),
            "sum_value",
            F.lit(len(quarantined)).cast("long").alias("n_quarantined"),
        )
        return collected(
            spark,
            out,
            "n_rows LONG, n_null_user LONG, n_null_type LONG,"
            " sum_value DOUBLE, n_quarantined LONG",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _evolution_read_oracle() -> str:
    return """
    SELECT
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_null_user,
      CAST(sum(CASE WHEN event_id % 3 IN (0, 1) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_null_type,
      round(sum(CASE WHEN event_id % 3 = 2
                     THEN CAST(CAST(value AS REAL) AS DOUBLE)
                     ELSE value END) + 1e-9, 4) AS sum_value,
      CAST(1 AS BIGINT) AS n_quarantined
    FROM events
    """


QUERIES.extend([
    Query("backfill_partition_audit", _backfill_audit_run,
          _backfill_audit_oracle()),
    Query("compaction_content_parity", _compaction_parity_run,
          _compaction_parity_oracle()),
    Query("evolution_merged_read", _evolution_read_run,
          _evolution_read_oracle()),
])


def _rollback_audit_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23's ROLLBACK path certified: three committed crawl versions,
    then rollback_to(2).  Rollback is documented-DESTRUCTIVE (stricter
    than Delta RESTORE — files added after the target are physically
    removed so plain directory reads stay correct), so the certified
    claims are: versions 1/2 and the new head read back exactly their
    closed forms, the head equals version 2, and read_as_of(3) FAILS
    CLOSED rather than returning a partial table."""
    from fiveg_spark.sources import snapshots

    table = _scratch() + "/docs"
    try:
        ensure_views(spark, ("documents",), sf_dir)
        docs = spark.sql("SELECT doc_id, n_chars FROM documents")
        for wave in range(3):
            docs.filter(F.col("doc_id") % N_WAVES == wave).write.mode(
                "append"
            ).parquet(table)
            snapshots.commit_snapshot(table)
        head = snapshots.rollback_to(table, 2)
        try:
            snapshots.read_as_of(spark, table, 3)
            v3_fails_closed = False
        except FileNotFoundError:
            v3_fails_closed = True

        rows = []
        for v in (1, 2, head):
            agg = note_precollect(snapshots.read_as_of(spark, table, v).agg(
                F.count("*").alias("n"),
                F.sum("n_chars").alias("chars"),
            )).head()
            rows.append(
                (int(v), int(agg["n"]), int(agg["chars"]),
                 bool(v3_fails_closed))
            )
        return spark.createDataFrame(
            rows,
            "version LONG, n_docs LONG, sum_chars LONG,"
            " v3_fails_closed BOOLEAN",
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)


def _rollback_audit_oracle() -> str:
    # versions 1/2 are cumulative waves; version 4 (the rollback head)
    # re-reads wave <= 1, i.e. version 2's closed form
    return f"""
    WITH versions AS (
      SELECT 1 AS version, 1 AS depth UNION ALL
      SELECT 2, 2 UNION ALL
      SELECT 4, 2
    )
    SELECT
      CAST(v.version AS BIGINT) AS version,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
      TRUE AS v3_fails_closed
    FROM versions v
    JOIN documents d ON d.doc_id % {N_WAVES} < v.depth
    GROUP BY v.version
    ORDER BY version
    """


def _zorder_parity_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9's z-order rewrite certified for CONTENT (the clustering must
    never change the rows) plus the structural claim that a point
    predicate on the leading cluster column skips row groups (footer
    stats only — the reason to z-order at all)."""
    from fiveg_spark.plans import zorder

    table = _scratch() + "/events_z"
    try:
        ensure_views(spark, ("events",), sf_dir)
        ev = spark.sql("SELECT event_id, user_id, event_type, value FROM events")
        zorder.zorder_write(ev, table, ("user_id", "value"))
        probe_user = spark.sql(
            "SELECT min(user_id) AS u FROM events"
        ).head()["u"]
        frac = zorder.skipping_fraction(table, "user_id", int(probe_user))
        skips = bool(frac < 1.0)

        out = (
            spark.read.parquet(table)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("event_id").alias("id_sum"),
                F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
            )
            .select(
                "event_type",
                F.col("n_events").cast("long"),
                F.col("n_users").cast("long"),
                F.col("id_sum").cast("long"),
                "sum_value",
                F.lit(skips).alias("point_lookup_skips"),
            )
            .orderBy("event_type")
        )
        return collected(
            spark,
            out,
            "event_type STRING, n_events LONG, n_users LONG, id_sum LONG,"
            " sum_value DOUBLE, point_lookup_skips BOOLEAN",
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)


def _zorder_parity_oracle() -> str:
    return """
    SELECT
      event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      CAST(sum(event_id) AS BIGINT) AS id_sum,
      round(sum(value) + 1e-9, 4) AS sum_value,
      TRUE AS point_lookup_skips
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


def _manifest_audit_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21's write-audit loop certified: write-with-manifest, verify
    against the filesystem, load THROUGH the verifying reader, and
    prove the loaded content equals the source — plus the tamper claim:
    after deleting a data file, verify_manifest must FAIL."""
    import os

    from fiveg_spark.sources import manifest

    table = _scratch() + "/orders_m"
    try:
        ensure_views(spark, ("orders",), sf_dir)
        orders = spark.sql(
            "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders"
        )
        manifest.write_with_manifest(orders.repartition(4), table)
        ok, _msg = manifest.verify_manifest(table)
        loaded = manifest.load_verified(spark, table)
        agg = note_precollect(loaded.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice") / 1e6 + 1e-9, 4).alias(
                "total_value_m"
            ),
        )).collect()
        victim = next(
            os.path.join(table, f)
            for f in sorted(os.listdir(table))
            if f.endswith(".parquet")
        )
        os.remove(victim)
        tampered_ok, _msg2 = manifest.verify_manifest(table)
        rows = [
            (r["o_orderpriority"], int(r["n_orders"]),
             float(r["total_value_m"]), bool(ok), bool(not tampered_ok))
            for r in agg
        ]
        return spark.createDataFrame(
            rows,
            "priority STRING, n_orders LONG, total_value_m DOUBLE,"
            " verified BOOLEAN, tamper_detected BOOLEAN",
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)


def _manifest_audit_oracle() -> str:
    return """
    SELECT
      o_orderpriority AS priority,
      CAST(count(*) AS BIGINT) AS n_orders,
      round(sum(o_totalprice) / 1e6 + 1e-9, 4) AS total_value_m,
      TRUE AS verified,
      TRUE AS tamper_detected
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """


def _bucketed_join_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15's co-located layout certified end-to-end: events and a
    per-user dimension bucketed IDENTICALLY on user_id, joined through
    the catalog — the executed plan must read bucketed scans (the
    shuffle-free marker pytest asserts) AND the join's RESULT must
    equal the oracle's plain join.  The backlog's bucketed-join demo,
    promoted to a certified query."""
    import uuid as _uuid

    from fiveg_spark.plans import bucketing

    run_id = _uuid.uuid4().hex[:8]
    base = _scratch()
    t_events = f"bjp_events_{run_id}"
    t_users = f"bjp_users_{run_id}"
    try:
        ensure_views(spark, ("events",), sf_dir)
        ev = spark.sql("SELECT user_id, event_type, value FROM events")
        users = spark.sql(
            "SELECT user_id, count(*) AS n_events,"
            " min(event_type) AS first_type FROM events GROUP BY user_id"
        )
        bucketing.write_bucketed(
            ev, t_events, f"{base}/events", ("user_id",), 8
        )
        bucketing.write_bucketed(
            users, t_users, f"{base}/users", ("user_id",), 8
        )
        # disable auto-broadcast so the co-located sort-merge path is
        # the one exercised (a broadcast join would ignore the buckets
        # — exactly what happens to small dims at certification SF; at
        # 100 TB both sides are fact-sized and this IS the default)
        old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(t_events).join(
                spark.table(t_users), "user_id"
            )
            bucketed = bucketing.is_bucketed_scan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        out = (
            joined.groupBy("first_type")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
            )
            .select(
                "first_type",
                F.col("n_rows").cast("long"),
                F.col("n_users").cast("long"),
                "sum_value",
                F.lit(bool(bucketed)).alias("bucketed_scan"),
            )
            .orderBy("first_type")
        )
        return collected(
            spark,
            out,
            "first_type STRING, n_rows LONG, n_users LONG,"
            " sum_value DOUBLE, bucketed_scan BOOLEAN",
        )
    finally:
        bucketing.drop_bucketed(spark, t_events, t_users)
        shutil.rmtree(base, ignore_errors=True)


def _bucketed_join_oracle() -> str:
    return """
    WITH users AS (
      SELECT user_id, min(event_type) AS first_type
      FROM events GROUP BY user_id
    )
    SELECT
      u.first_type,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
      round(sum(e.value) + 1e-9, 4) AS sum_value,
      TRUE AS bucketed_scan
    FROM events e
    JOIN users u ON u.user_id = e.user_id
    GROUP BY u.first_type
    ORDER BY u.first_type
    """


QUERIES.extend([
    Query("snapshot_rollback_audit", _rollback_audit_run,
          _rollback_audit_oracle()),
    Query("zorder_content_parity", _zorder_parity_run,
          _zorder_parity_oracle()),
    Query("manifest_integrity_audit", _manifest_audit_run,
          _manifest_audit_oracle()),
    Query("bucketed_join_parity", _bucketed_join_run,
          _bucketed_join_oracle()),
])


# --------------------------------------------------------------------------
# A35 — row-level CDC apply certified end-to-end
# --------------------------------------------------------------------------

_CDC_BUCKETS = 8
_CDC_INS_OFFSET = 10_000_000  # inserted keys live far above the corpus


def _cdc_apply_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35 certified: seed the bucketed store from orders, drive three
    deterministic changelog batches through the REAL apply_changelog —
    updates (keys %10==1 get +100), deletes (%10==2), inserts
    (%10==3 cloned to key+OFFSET at double price), then a REPLAY of
    batch 1 plus a STALE seq-0 update that must lose to the stored
    sequence — and aggregate the final store per status.  The oracle
    recomputes the same final state from orders in closed form; the
    merge machinery (winner reduction, bucket-pruned rewrite,
    stale-replay guard) is what's under test and the oracle never
    sees it."""
    from fiveg_spark.sources import cdc

    root = _scratch()
    path = root + "/orders_cdc"
    try:
        ensure_views(spark, ("orders",), sf_dir)
        base = spark.sql(
            "SELECT o_orderkey AS k, o_orderstatus AS status,"
            " o_totalprice AS price FROM orders"
        )
        cdc.init_store(spark, path, base, "k", _CDC_BUCKETS)

        updates = spark.sql(
            "SELECT o_orderkey AS k, CAST(1 AS LONG) AS seq, 'U' AS op,"
            " o_orderstatus AS status, o_totalprice + 100.0 AS price"
            " FROM orders WHERE o_orderkey % 10 = 1"
        )
        cdc.apply_changelog(spark, path, updates, "k", _CDC_BUCKETS)

        batch2 = spark.sql(f"""
            SELECT o_orderkey AS k, CAST(2 AS LONG) AS seq, 'D' AS op,
                   CAST(NULL AS STRING) AS status,
                   CAST(NULL AS DOUBLE) AS price
            FROM orders WHERE o_orderkey % 10 = 2
            UNION ALL
            SELECT o_orderkey + {_CDC_INS_OFFSET}, CAST(2 AS LONG), 'I',
                   o_orderstatus, o_totalprice * 2.0
            FROM orders WHERE o_orderkey % 10 = 3
        """)
        cdc.apply_changelog(spark, path, batch2, "k", _CDC_BUCKETS)

        # replay batch 1 (idempotent) + a stale seq-0 regression probe
        stale = spark.sql(
            "SELECT o_orderkey AS k, CAST(0 AS LONG) AS seq, 'U' AS op,"
            " 'XX' AS status, 0.0 AS price"
            " FROM orders WHERE o_orderkey % 10 = 1"
        )
        cdc.apply_changelog(spark, path, updates.unionByName(stale),
                            "k", _CDC_BUCKETS)

        out = (
            cdc.read_store(spark, path)
            .groupBy("status")
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n_rows"),
                # sum/1e6 before round-4: partial sums reach ~1e9 where
                # engine summation-order ulps (~1e-4) would flip a
                # cents-grid rounding (the artifacts.py:770 discipline)
                F.expr(
                    "CAST(round(coalesce(sum(price), 0.0) / 1e6 + 1e-9, 4)"
                    " + 0.0 AS DOUBLE)"
                ).alias("sum_price_m"),
                F.expr(
                    "CAST(sum(CASE WHEN k >= " + str(_CDC_INS_OFFSET) +
                    " THEN 1 ELSE 0 END) AS BIGINT)"
                ).alias("n_inserted"),
            )
            .orderBy("status")
        )
        return collected(
            spark, out,
            "status STRING, n_rows LONG, sum_price_m DOUBLE,"
            " n_inserted LONG",
        )
    finally:
        # remove the mkdtemp ROOT (r11 ADVICE: rmtree(path) leaked the
        # parent and any __cdc_trash/__cdc_tmp siblings of a mid-apply
        # failure, which live NEXT TO the store dir, outside it)
        shutil.rmtree(root, ignore_errors=True)


def _cdc_apply_oracle() -> str:
    # final state closed form: survivors (not %10==2) with the %10==1
    # +100 update applied, plus the %10==3 clones at double price
    return f"""
    WITH final_state AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
        CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 100.0
             ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 10 <> 2
      UNION ALL
      SELECT o_orderkey + {_CDC_INS_OFFSET}, o_orderstatus,
             o_totalprice * 2.0
      FROM orders WHERE o_orderkey % 10 = 3
    )
    SELECT
      status,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(round(coalesce(sum(price), 0.0) / 1e6 + 1e-9, 4) + 0.0
           AS DOUBLE) AS sum_price_m,
      CAST(sum(CASE WHEN k >= {_CDC_INS_OFFSET} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_inserted
    FROM final_state
    GROUP BY status
    ORDER BY status
    """


QUERIES.append(
    Query("cdc_apply_parity", _cdc_apply_run, _cdc_apply_oracle())
)


def _stream_cdc_apply_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38 certified: the SAME three deterministic changelog batches as
    cdc_apply_parity, but delivered through the REAL streaming tail —
    each batch lands as one parquet file (pinned mtimes), a
    maxFilesPerTrigger=1 availableNow stream drains them through
    foreachBatch + apply_changelog (streaming/cdc_sink.py), and the
    final store state must match the same closed-form oracle.  Batch 3
    bundles the batch-1 replay with the stale seq-0 probe, so the
    store's seq watermark is exercised under streaming delivery; the
    checkpoint makes a re-run of the same files a no-op."""
    import os

    from fiveg_spark.sources import cdc
    from fiveg_spark.streaming.cdc_sink import foreach_batch_cdc

    root = _scratch()
    path = os.path.join(root, "orders_cdc")
    src = os.path.join(root, "changes")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    try:
        ensure_views(spark, ("orders",), sf_dir)
        base = spark.sql(
            "SELECT o_orderkey AS k, o_orderstatus AS status,"
            " o_totalprice AS price FROM orders"
        )
        cdc.init_store(spark, path, base, "k", _CDC_BUCKETS)

        batches = [
            "SELECT o_orderkey AS k, CAST(1 AS LONG) AS seq, 'U' AS op,"
            " o_orderstatus AS status, o_totalprice + 100.0 AS price"
            " FROM orders WHERE o_orderkey % 10 = 1",
            f"""
            SELECT o_orderkey AS k, CAST(2 AS LONG) AS seq, 'D' AS op,
                   CAST(NULL AS STRING) AS status,
                   CAST(NULL AS DOUBLE) AS price
            FROM orders WHERE o_orderkey % 10 = 2
            UNION ALL
            SELECT o_orderkey + {_CDC_INS_OFFSET}, CAST(2 AS LONG), 'I',
                   o_orderstatus, o_totalprice * 2.0
            FROM orders WHERE o_orderkey % 10 = 3
            """,
            # replay of batch 1 + the stale seq-0 regression probe
            "SELECT o_orderkey AS k, CAST(1 AS LONG) AS seq, 'U' AS op,"
            " o_orderstatus AS status, o_totalprice + 100.0 AS price"
            " FROM orders WHERE o_orderkey % 10 = 1"
            " UNION ALL "
            "SELECT o_orderkey AS k, CAST(0 AS LONG) AS seq, 'U' AS op,"
            " 'XX' AS status, 0.0 AS price"
            " FROM orders WHERE o_orderkey % 10 = 1",
        ]
        for i, sql in enumerate(batches):
            stage = os.path.join(src, f"_stage_{i}")
            spark.sql(sql).coalesce(1).write.parquet(stage)
            (part,) = [f for f in os.listdir(stage)
                       if f.endswith(".parquet")]
            dst = os.path.join(src, f"batch_{i}.parquet")
            os.replace(os.path.join(stage, part), dst)
            shutil.rmtree(stage)
            t = 1_000_000_000 + 100 * i
            os.utime(dst, (t, t))

        changes = (
            spark.readStream
            .schema("k LONG, seq LONG, op STRING, status STRING,"
                    " price DOUBLE")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            changes.writeStream.foreachBatch(foreach_batch_cdc(path, "k"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        out = (
            cdc.read_store(spark, path)
            .groupBy("status")
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n_rows"),
                F.expr(
                    "CAST(round(coalesce(sum(price), 0.0) / 1e6 + 1e-9, 4)"
                    " + 0.0 AS DOUBLE)"
                ).alias("sum_price_m"),
                F.expr(
                    "CAST(sum(CASE WHEN k >= " + str(_CDC_INS_OFFSET) +
                    " THEN 1 ELSE 0 END) AS BIGINT)"
                ).alias("n_inserted"),
            )
            .orderBy("status")
        )
        return collected(
            spark, out,
            "status STRING, n_rows LONG, sum_price_m DOUBLE,"
            " n_inserted LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES.append(
    Query("stream_cdc_apply_parity", _stream_cdc_apply_run,
          _cdc_apply_oracle())
)


# --------------------------------------------------------------------------
# A23b — snapshot vacuum: orphan retention + aged reclamation certified
# --------------------------------------------------------------------------


def _vacuum_audit_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23's vacuum on the oracle path: two committed waves plus two
    ORPHAN files (appended, never committed — the in-flight-writer
    case the retention window exists for).  A young-guarded vacuum
    must delete NOTHING (the orphans are inside the retention window);
    an aged vacuum must reclaim exactly the two orphans; v1 must stay
    readable (still referenced) and the head must read back to v2's
    closed form once the orphans are gone."""
    import os

    from fiveg_spark.sources import snapshots

    root = _scratch()
    table = root + "/docs"
    try:
        ensure_views(spark, ("documents",), sf_dir)
        docs = spark.sql("SELECT doc_id, n_chars FROM documents")
        for wave in range(2):
            docs.filter(F.col("doc_id") % N_WAVES == wave).write.mode(
                "append"
            ).parquet(table)
            snapshots.commit_snapshot(table)
        # orphans: written into the table dir, never committed
        orphan_src = root + "/orphan"
        docs.limit(7).coalesce(1).write.parquet(orphan_src)
        part = next(p for p in os.listdir(orphan_src)
                    if p.endswith(".parquet"))
        for i in range(2):
            shutil.copyfile(os.path.join(orphan_src, part),
                            os.path.join(table, f"orphan-{i}.parquet"))

        n_young = len(snapshots.vacuum(table, keep_versions=2,
                                       min_age_hours=1.0))
        n_aged = len(snapshots.vacuum(table, keep_versions=2,
                                      min_age_hours=0.0))
        v1 = note_precollect(snapshots.read_as_of(spark, table, 1).agg(
            F.count("*").alias("n"), F.sum("n_chars").alias("c"))).head()
        head = note_precollect(spark.read.parquet(table).agg(
            F.count("*").alias("n"), F.sum("n_chars").alias("c"))).head()
        return spark.createDataFrame(
            [(int(n_young), int(n_aged), int(v1["n"]), int(v1["c"]),
              int(head["n"]), int(head["c"]))],
            "n_deleted_young LONG, n_deleted_aged LONG, v1_docs LONG,"
            " v1_chars LONG, head_docs LONG, head_chars LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _vacuum_audit_oracle() -> str:
    return f"""
    SELECT
      CAST(0 AS BIGINT) AS n_deleted_young,
      CAST(2 AS BIGINT) AS n_deleted_aged,
      CAST(sum(CASE WHEN doc_id % {N_WAVES} = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS v1_docs,
      CAST(sum(CASE WHEN doc_id % {N_WAVES} = 0 THEN n_chars ELSE 0 END)
           AS BIGINT) AS v1_chars,
      CAST(sum(CASE WHEN doc_id % {N_WAVES} IN (0, 1) THEN 1 ELSE 0 END)
           AS BIGINT) AS head_docs,
      CAST(sum(CASE WHEN doc_id % {N_WAVES} IN (0, 1) THEN n_chars
               ELSE 0 END) AS BIGINT) AS head_chars
    FROM documents
    """


# --------------------------------------------------------------------------
# A20b — table storage-health audit certified on planted layouts
# --------------------------------------------------------------------------


def _table_health_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 certified: a planted small-file antipattern (30 one-row
    files in one partition, one healthy file in another) audited
    metadata-only.  Byte sizes are encoder-dependent, so the certified
    fields are the CLOSED-FORM ones: file/row/partition counts and the
    small-file shares at the two threshold extremes (huge threshold →
    every file small, share 1.0, compaction recommended; 1-byte
    threshold → no file small, share 0.0, not recommended)."""
    from fiveg_spark.plans.table_health import audit_table

    root = _scratch() + "/tbl"
    try:
        ensure_views(spark, ("documents",), sf_dir)
        docs = spark.sql("SELECT doc_id FROM documents LIMIT 130")
        docs.limit(30).repartition(30).write.parquet(root + "/part=a")
        docs.limit(100).coalesce(1).write.parquet(root + "/part=b")
        wide = audit_table(root, small_bytes=1 << 30)
        tight = audit_table(root, small_bytes=1)
        return spark.createDataFrame(
            [(
                int(wide.n_files), int(wide.total_rows),
                int(wide.partition_count),
                float(wide.small_file_count_share),
                bool(wide.recommend_compaction),
                float(tight.small_file_count_share),
                bool(tight.recommend_compaction),
            )],
            "n_files LONG, total_rows LONG, n_partitions LONG,"
            " wide_small_share DOUBLE, wide_recommend BOOLEAN,"
            " tight_small_share DOUBLE, tight_recommend BOOLEAN",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _table_health_oracle() -> str:
    return """
    SELECT
      CAST(31 AS BIGINT) AS n_files,
      CAST(130 AS BIGINT) AS total_rows,
      CAST(2 AS BIGINT) AS n_partitions,
      CAST(1.0 AS DOUBLE) AS wide_small_share,
      TRUE AS wide_recommend,
      CAST(0.0 AS DOUBLE) AS tight_small_share,
      FALSE AS tight_recommend
    """


# --------------------------------------------------------------------------
# A16b — training-shard physical layout vs the portable hash rule
# --------------------------------------------------------------------------


def _shard_layout_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 certified: write_training_shards' PHYSICAL layout read back
    per shard directory must reproduce the portable md5 first-nibble
    assignment the certified `training_order` query defines — the
    writer and the query are the same rule, now proven on the files."""
    from fiveg_spark.sources.sinks import write_training_shards

    root = _scratch() + "/shards"
    try:
        ensure_views(spark, ("documents",), sf_dir)
        docs = spark.sql("SELECT doc_id, source FROM documents")
        write_training_shards(docs, root, key_col="doc_id", n_shards=16)
        back = spark.read.parquet(root)
        out = (
            back.groupBy(F.col("shard").cast("long").alias("shard"))
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
                F.expr("CAST(sum(doc_id) AS BIGINT)").alias("sum_doc_id"),
                F.expr("min(shuffle_key)").alias("first_key"),
            )
            .orderBy("shard")
        )
        # bounded (<=16 rows): materialize before the scratch vanishes
        return collected(
            spark, out,
            "shard LONG, n_docs LONG, sum_doc_id LONG, first_key STRING",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _shard_layout_oracle() -> str:
    key = "substring(md5(concat('order-v1#', CAST(doc_id AS VARCHAR))), 1, 8)"
    shard = (
        f"CAST(position(substring({key}, 1, 1) IN '0123456789abcdef') - 1"
        " AS BIGINT)"
    )
    return f"""
    WITH keyed AS (
      SELECT doc_id, {key} AS shuffle_key, {shard} AS shard
      FROM documents
    )
    SELECT shard,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      min(shuffle_key) AS first_key
    FROM keyed
    GROUP BY shard
    ORDER BY shard
    """


QUERIES.extend([
    Query("snapshot_vacuum_audit", _vacuum_audit_run,
          _vacuum_audit_oracle()),
    Query("table_health_audit", _table_health_run,
          _table_health_oracle()),
    Query("training_shard_layout_parity", _shard_layout_run,
          _shard_layout_oracle()),
])


# --------------------------------------------------------------------------
# A5b — partitioned batch sink + partition-pruned read-back certified
# --------------------------------------------------------------------------


def _partitioned_sink_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 certified: events land through the REAL write_partitioned
    (partitionBy event_type), and the certified claims are (1) the
    directory layout is exactly the distinct-type set, (2) a
    PARTITION-PRUNED read of one type's directory equals the filtered
    closed form — the Hive-pruning contract the layout exists for —
    and (3) the full read-back round-trips every per-type aggregate."""
    import os

    from fiveg_spark.sources.sinks import write_partitioned

    root = _scratch() + "/events_by_type"
    try:
        ensure_views(spark, ("events",), sf_dir)
        ev = spark.sql("SELECT event_id, event_type, value FROM events")
        write_partitioned(ev, root, partition_by=("event_type",))

        dirs = sorted(
            d.split("=", 1)[1] for d in os.listdir(root)
            if d.startswith("event_type=")
        )
        first = dirs[0]
        pruned = spark.read.parquet(
            os.path.join(root, f"event_type={first}")
        ).agg(
            F.count("*").alias("n"), F.sum("value").alias("v")
        ).head()
        back = (
            spark.read.parquet(root)
            .groupBy("event_type")
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n_events"),
                F.expr(
                    "CAST(round(coalesce(sum(value), 0.0) / 1e6 + 1e-9, 4)"
                    " + 0.0 AS DOUBLE)"
                ).alias("sum_value_m"),
            )
        )
        rows = [
            (r["event_type"], int(r["n_events"]), float(r["sum_value_m"]),
             len(dirs), int(pruned["n"]),
             float(round(pruned["v"] / 1e6 + 1e-9, 4) + 0.0))
            for r in note_precollect(back).collect()
        ]
        return spark.createDataFrame(
            rows,
            "event_type STRING, n_events LONG, sum_value_m DOUBLE,"
            " n_partition_dirs LONG, pruned_first_n LONG,"
            " pruned_first_value_m DOUBLE",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _partitioned_sink_oracle() -> str:
    return """
    WITH per_type AS (
      SELECT event_type,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(round(coalesce(sum(value), 0.0) / 1e6 + 1e-9, 4) + 0.0
             AS DOUBLE) AS sum_value_m
      FROM events GROUP BY event_type
    ),
    firsttype AS (
      SELECT n_events AS pn, sum_value_m AS pv
      FROM per_type ORDER BY event_type LIMIT 1
    )
    SELECT p.event_type, p.n_events, p.sum_value_m,
      (SELECT CAST(count(*) AS BIGINT) FROM per_type)
        AS n_partition_dirs,
      f.pn AS pruned_first_n,
      f.pv AS pruned_first_value_m
    FROM per_type p CROSS JOIN firsttype f
    ORDER BY p.event_type
    """


QUERIES.append(
    Query("partitioned_sink_parity", _partitioned_sink_run,
          _partitioned_sink_oracle())
)


def _stream_agg_merge_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40 certified: an incrementally-MERGE-maintained aggregate table
    (streaming/agg_sink.py) — three deterministic order slices land as
    pinned-mtime parquet files, a maxFilesPerTrigger=1 availableNow
    stream folds each micro-batch's partial (count, sum) into the
    versioned store through foreachBatch, and the final table read-back
    must equal the one-shot GROUP BY the oracle computes directly.  The
    merge algebra (decomposable partial fold), the snapshot/manifest
    atomicity, and the per-epoch replay ledger are what's under test;
    the oracle never sees any of it.  avg derives at read time from
    the maintained sums — stored ratios cannot merge."""
    import os

    from fiveg_spark.streaming import agg_sink

    root = _scratch()
    path = os.path.join(root, "orders_agg")
    src = os.path.join(root, "slices")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    try:
        ensure_views(spark, ("orders",), sf_dir)
        agg_sink.init_agg_store(spark, path, ["status"], ["price"])

        for i, residue in enumerate((1, 2, 3)):
            stage = os.path.join(src, f"_stage_{i}")
            spark.sql(
                "SELECT o_orderstatus AS status, o_totalprice AS price"
                f" FROM orders WHERE o_orderkey % 10 = {residue}"
            ).coalesce(1).write.parquet(stage)
            (part,) = [f for f in os.listdir(stage)
                       if f.endswith(".parquet")]
            dst = os.path.join(src, f"slice_{i}.parquet")
            os.replace(os.path.join(stage, part), dst)
            shutil.rmtree(stage)
            t = 1_000_000_000 + 100 * i
            os.utime(dst, (t, t))

        rows = (
            spark.readStream
            .schema("status STRING, price DOUBLE")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            rows.writeStream.foreachBatch(
                agg_sink.foreach_batch_agg(path, "r13cert")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        out = (
            agg_sink.read_agg_table(spark, path)
            .select(
                "status",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.expr(
                    "CAST(round(coalesce(sum_price, 0.0) / 1e6 + 1e-9, 4)"
                    " + 0.0 AS DOUBLE)"
                ).alias("sum_price_m"),
                F.expr(
                    "CAST(round(coalesce(sum_price, 0.0) / n_rows / 1e3"
                    " + 1e-9, 4) + 0.0 AS DOUBLE)"
                ).alias("avg_price_k"),
            )
            .orderBy("status")
        )
        return collected(
            spark, out,
            "status STRING, n_rows LONG, sum_price_m DOUBLE,"
            " avg_price_k DOUBLE",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _stream_agg_merge_oracle() -> str:
    return """
    SELECT
      o_orderstatus AS status,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(round(coalesce(sum(o_totalprice), 0.0) / 1e6 + 1e-9, 4) + 0.0
           AS DOUBLE) AS sum_price_m,
      CAST(round(coalesce(sum(o_totalprice), 0.0) / count(*) / 1e3
                 + 1e-9, 4) + 0.0 AS DOUBLE) AS avg_price_k
    FROM orders
    WHERE o_orderkey % 10 IN (1, 2, 3)
    GROUP BY o_orderstatus
    ORDER BY status
    """


QUERIES.append(
    Query("stream_agg_merge_parity", _stream_agg_merge_run,
          _stream_agg_merge_oracle())
)
