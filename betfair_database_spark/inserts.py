"""Insert (file import) with duplicate policies — the decision-join design
(reference: database.py:82-117, processor.py:335-387, market.py:135-198).

The reference interleaves the policy decision with filesystem mutation per
market; here the decision is a pure DataFrame computation (joins against the
destination listing + a row-hash comparison against parsed destination
metadata), and the filesystem mutation is an executor-side pass over the
decided frame. Policy semantics preserved exactly:

  metadata destination exists:
    REPLACE           → action UPDATE (always rewrite file + index row)
    SKIP              → action SKIP
    UPDATE, row equal → action SKIP   (flattened 35-col comparison,
                                       market.py:152-158; racing columns are
                                       None on both sides of the reference's
                                       comparison and are excluded here)
    UPDATE, row diff  → action UPDATE
  metadata destination absent → action INSERT

  data file copied iff: destination absent, or REPLACE, or
  (UPDATE and incoming file larger than existing) (market.py:170-178).

Index paths always point at the destination, whether or not files moved
(market.py:195-198). Index upsert = anti-join on destination metadata path +
append, the set-based form of the reference's DELETE+INSERT
(processor.py:365-384).
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from betfair_database_spark.const import (
    SQL_TABLE_COLUMNS,
    DuplicatePolicy,
)
from betfair_database_spark.etl import build_index_frame
from betfair_database_spark.plans.materialize import materialize
from betfair_database_spark.functions.flatten import (
    catalogue_to_flat,
    definition_to_flat,
)
from betfair_database_spark.functions.patterns import resolve_pattern
from betfair_database_spark.sources.discovery import list_files
from betfair_database_spark.sources.fetch import fetch_text_files
from betfair_database_spark.sources.metadata_reader import parse_metadata_content

# Columns compared for the UPDATE-policy "has the row changed" check:
# everything except the two paths (always differ) and the four racing columns
# (None on both sides of the reference's no-additional-metadata comparison).
_HASH_COLS = [
    c
    for c in SQL_TABLE_COLUMNS
    if c
    not in (
        "marketMetadataFilePath",
        "marketDataFilePath",
        "raceId",
        "raceTypeFromName",
        "raceDistanceMeters",
        "raceDistanceFurlongs",
    )
]


def _row_hash(prefix: str = "") -> F.Column:
    return F.md5(F.to_json(F.struct(*[F.col(prefix + c).alias(c) for c in _HASH_COLS])))


def _file_ops(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side move/copy of decided markets."""
    import os
    import shutil

    for batch in batches:
        done = 0
        for row in batch.itertuples(index=False):
            os.makedirs(row.dest_dir, exist_ok=True)
            op = shutil.copy if row.is_copy else shutil.move
            if row.process_meta and os.path.exists(row.src_meta):
                if os.path.abspath(row.src_meta) != os.path.abspath(row.dest_meta):
                    op(row.src_meta, row.dest_meta)
            if row.process_data and os.path.exists(row.src_data):
                if os.path.abspath(row.src_data) != os.path.abspath(row.dest_data):
                    op(row.src_data, row.dest_data)
            done += 1
        yield pd.DataFrame({"n": [done]})


def insert_markets(
    db,
    source_dir: Path,
    copy: bool,
    pattern,
    on_duplicates: DuplicatePolicy,
) -> int:
    spark = db.spark
    base = str(db.database_dir.resolve())

    frame, counters = build_index_frame(spark, str(source_dir))
    frame = materialize(frame, "insert-source-frame")

    # --- destination paths ---------------------------------------------------
    dest_rel = resolve_pattern(pattern)
    meta_name = F.element_at(F.split("marketMetadataFilePath", "/"), -1)
    data_name = F.element_at(F.split("marketDataFilePath", "/"), -1)
    dest_dir = F.rtrim(F.concat(F.lit(base + "/"), F.coalesce(dest_rel, F.lit(""))))
    dest_dir = F.regexp_replace(dest_dir, "/+$", "")
    # Two source markets can map to the same destination paths (same file
    # names, same pattern dir). The survivor is chosen deterministically:
    # greatest marketMetadataFilePath wins — the lexicographically-last
    # source path, i.e. the file a serial alphabetical walk would process
    # last, mirroring the reference's last-write-wins on its serial loop.
    with_dest = frame.withColumns(
        {
            "dest_dir": dest_dir,
            "dest_meta": F.concat(dest_dir, F.lit("/"), meta_name),
            "dest_data": F.concat(dest_dir, F.lit("/"), data_name),
        }
    )
    payload = F.struct(*[c for c in with_dest.columns if c not in ("dest_meta", "dest_data")])
    decided = (
        with_dest.groupBy("dest_meta", "dest_data")
        .agg(F.max_by(payload, F.col("marketMetadataFilePath")).alias("_r"))
        .select("dest_meta", "dest_data", "_r.*")
    )

    # --- incoming data file sizes --------------------------------------------
    src_listing = list_files(spark, str(source_dir)).select(
        F.col("path").alias("marketDataFilePath"),
        F.col("length").alias("incoming_size"),
    )
    decided = decided.join(src_listing, "marketDataFilePath", "left")

    # --- existing destination files ------------------------------------------
    db_listing = materialize(
        list_files(spark, base).select("path", "length"), "insert-db-listing"
    )
    meta_listing = db_listing.select(
        F.col("path").alias("dest_meta"), F.lit(True).alias("meta_exists")
    )
    data_listing = db_listing.select(
        F.col("path").alias("dest_data"),
        F.col("length").alias("existing_size"),
        F.lit(True).alias("data_exists"),
    )
    decided = materialize(
        decided.join(meta_listing, "dest_meta", "left")
        .join(data_listing, "dest_data", "left")
        .withColumns(
            {
                "meta_exists": F.coalesce("meta_exists", F.lit(False)),
                "data_exists": F.coalesce("data_exists", F.lit(False)),
            }
        ),
        "insert-decision-join",
    )

    # --- row-equality against existing destination metadata (UPDATE only) ----
    decided = _attach_row_equality(spark, decided, on_duplicates, db=db)

    # --- policy decision -------------------------------------------------------
    policy = on_duplicates
    action = (
        F.when(~F.col("meta_exists"), F.lit("INSERT"))
        .when(F.lit(policy is DuplicatePolicy.REPLACE), F.lit("UPDATE"))
        .when(F.lit(policy is DuplicatePolicy.SKIP), F.lit("SKIP"))
        .when(F.col("rows_equal"), F.lit("SKIP"))
        .otherwise(F.lit("UPDATE"))
    )
    process_data = F.when(~F.col("data_exists"), F.lit(True)).otherwise(
        F.when(F.lit(policy is DuplicatePolicy.REPLACE), F.lit(True))
        .when(F.lit(policy is DuplicatePolicy.SKIP), F.lit(False))
        .otherwise(F.col("incoming_size") > F.coalesce("existing_size", F.lit(0)))
    )
    decided = materialize(
        decided.withColumns(
            {"sql_action": action, "process_data": process_data}
        ),
        "insert-decided",
    )

    n_update = decided.where(F.col("sql_action") == "UPDATE").count()
    n_insert = decided.where(F.col("sql_action") == "INSERT").count()
    n_skip = decided.where(F.col("sql_action") == "SKIP").count()
    counters.markets_updated = n_update
    counters.markets_skipped = n_skip
    counters.rows_inserted = n_insert + n_update
    db.last_counters = counters

    # --- filesystem mutation (executor-side) ----------------------------------
    ops = decided.select(
        F.col("marketMetadataFilePath").alias("src_meta"),
        F.col("marketDataFilePath").alias("src_data"),
        "dest_dir",
        "dest_meta",
        "dest_data",
        (F.col("sql_action") != "SKIP").alias("process_meta"),
        "process_data",
        F.lit(copy).alias("is_copy"),
    )
    ops.mapInPandas(_file_ops, schema="n long").collect()

    # --- index upsert -----------------------------------------------------------
    new_rows = decided.where(F.col("sql_action") != "SKIP").select(
        *[
            c
            for c in SQL_TABLE_COLUMNS
            if c not in ("marketMetadataFilePath", "marketDataFilePath")
        ],
        F.col("dest_meta").alias("marketMetadataFilePath"),
        F.col("dest_data").alias("marketDataFilePath"),
    )
    # Partition-scoped upsert: only eventTypeId= partitions that gain rows or
    # lose replaced rows are rewritten — O(batch-touched partitions), not
    # O(index) (the reference's row-level DELETE+INSERT analogue,
    # processor.py:365-384). Untouched partitions keep their files verbatim.
    new_rows = materialize(new_rows, "insert-new-rows")
    new_paths = new_rows.select("marketMetadataFilePath")
    old_index = db._read_index()
    replaced_parts = (
        old_index.join(new_paths, "marketMetadataFilePath", "left_semi")
        .select("eventTypeId")
        .distinct()
    )
    new_parts = new_rows.select("eventTypeId").distinct()
    touched = [
        r[0] for r in replaced_parts.unionByName(new_parts).distinct().collect()
    ]
    kept_touched = old_index.where(db._partition_filter(touched)).join(
        new_paths, "marketMetadataFilePath", "left_anti"
    )
    db._upsert_partitions(kept_touched.unionByName(new_rows), touched)

    return counters.rows_inserted


def _attach_row_equality(
    spark, decided: DataFrame, policy: DuplicatePolicy, db=None
) -> DataFrame:
    """Adds a ``rows_equal`` column: does the incoming flattened row match the
    flattened row of the existing destination metadata file? Only computed
    for the UPDATE policy; False otherwise.

    Two comparison sources, file first: (a) parse+flatten the existing
    destination metadata file (the reference's exact comparison,
    market.py:152-158); (b) for markets whose destination metadata is a bulk
    ``metadata.json`` (unparseable as a single market — the reference has no
    defined behavior there), fall back to the already-indexed row keyed on
    (destination path, marketId)."""
    if policy is not DuplicatePolicy.UPDATE:
        return decided.withColumn("rows_equal", F.lit(False))
    # The comparison file set is data-dependent (this batch's collision
    # targets), so the path frame drives an executor-side fetch — no path
    # list on the driver.
    cmp_paths = (
        decided.where(F.col("meta_exists"))
        .select(F.col("dest_meta").alias("path"))
        .distinct()
    )

    idx_equal = None
    if db is not None:
        idx_hashes = (
            db._read_index()
            .select(
                F.col("marketMetadataFilePath").alias("dest_meta"),
                F.col("marketId").alias("_idx_mid"),
                _row_hash().alias("idx_hash"),
            )
            .dropDuplicates(["dest_meta", "_idx_mid"])
        )
        decided = decided.join(
            F.broadcast(idx_hashes),
            (decided["dest_meta"] == idx_hashes["dest_meta"])
            & (decided["marketId"] == idx_hashes["_idx_mid"]),
            "left",
        ).drop(idx_hashes["dest_meta"]).drop("_idx_mid")
        idx_equal = _row_hash() == F.col("idx_hash")

    parsed = parse_metadata_content(
        fetch_text_files(cmp_paths).where(F.col("content").isNotNull())
    ).where(~F.col("corrupt"))
    # The flatten helpers emit a fixed projection including the two path
    # columns; feed the destination path through marketMetadataFilePath and
    # recover it after flattening.
    carrier = parsed.withColumns(
        {
            "marketMetadataFilePath": F.col("path"),
            "marketDataFilePath": F.lit(None).cast("string"),
        }
    )
    cat_flat = catalogue_to_flat(
        carrier.where(~F.col("is_definition")).select(
            "cat.*", "marketMetadataFilePath", "marketDataFilePath"
        )
    )
    def_flat = definition_to_flat(
        carrier.where(F.col("is_definition")).select(
            "defn.*", "marketMetadataFilePath", "marketDataFilePath"
        )
    )
    existing = cat_flat.unionByName(def_flat).select(
        F.col("marketMetadataFilePath").alias("dest_meta"),
        _row_hash().alias("existing_hash"),
    )
    file_equal = _row_hash() == F.col("existing_hash")
    equal = (
        F.coalesce(file_equal, idx_equal, F.lit(False))
        if idx_equal is not None
        else F.coalesce(file_equal, F.lit(False))
    )
    out = decided.join(F.broadcast(existing), "dest_meta", "left").withColumn(
        "rows_equal", equal
    )
    return out.drop("existing_hash", "idx_hash")
