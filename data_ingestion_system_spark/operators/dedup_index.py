"""Incremental MinHash-LSH dedup index: dedup at ingest time, without
ever rescanning the corpus.

The batch near-dup path (operators/dedup.py) compares a corpus against
itself.  At 100 TB the operational question is different: a NEW batch
arrives (a crawl shard, a day of uploads) and must be checked against
everything already ingested.  Rescanning history per batch is
O(corpus) per day; the index makes it O(batch + candidates):

* the INDEX stores only banded signature rows ``(band, bh, doc_id)`` —
  ~``bands`` longs per document, thousands of times smaller than text —
  written date-partition-friendly and sorted by ``bh`` within files so
  a probe's equi-join benefits from row-group skipping;
* a PROBE computes signatures for the new batch only, equi-joins the
  index on ``(band, bh)`` for candidates, then exact-Jaccard-verifies
  candidates by fetching ONLY the implicated corpus docs (a selective
  semi-join into the corpus table on ``doc_id`` — point reads under
  predicate pushdown, not a scan);
* ACCEPTING the batch appends its signature rows — the index grows by
  O(batch), and tomorrow's probe never re-reads today's text.

This is the signature-store design production dedup services use (the
same banding math as `dedup_minhash_lsh`, LSH forest/Spark-dedup
lineage); the reference has no analogue (its store is a Postgres table
of metadata rows — SURVEY §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.operators.dedup import (
    minhash_signatures,
    verify_candidates,
    word_shingles,
)

NUM_PERM = 32
BANDS = 8

# Sentinel micro-batch id for rows that predate (or bypass) stamping.
# Real batch ids are non-negative (Structured Streaming batch ids start
# at 0), so -1 never collides with an ``exclude_mb`` filter.
LEGACY_MB = -1


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop API resolved from
    the path itself — works on local fs, HDFS and object stores alike
    (same rationale as writers.missing_partitions)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _index_layout(spark: SparkSession, path: str) -> str | None:
    """Top-level partition layout of an existing index root.

    ``"legacy"`` — ``band=*`` directories at the root (un-stamped,
    written before mb stamping or via the batch API); ``"mb"`` —
    ``mb=*`` directories (every row stamped); ``None`` — missing or
    empty root.  Spark's partition discovery refuses MIXED depths
    ("conflicting directory structures"), so writers must never create
    them — see ``write_index``.
    """
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    names = [st.getPath().getName() for st in fs.listStatus(hpath)]
    if any(n.startswith("mb=") for n in names):
        return "mb"
    if any(n.startswith("band=") for n in names):
        return "legacy"
    return None


def migrate_index_to_mb(spark: SparkSession, path: str) -> None:
    """One-time upgrade of a legacy ``band=*``-rooted index to the
    ``mb=*/band=*`` layout, re-homing every existing row under the
    ``mb=-1`` sentinel partition.

    Without this, appending ``mb=<id>/band=*`` partitions into a root
    that already holds ``band=*`` directories leaves partition
    directories of conflicting depths and every subsequent
    ``probe_index`` read fails partition discovery.  The rewrite is
    O(index), not O(corpus) — signature rows only — and runs at most
    once per index lifetime (``write_index`` invokes it automatically
    on the first stamped append).  Staged write + rename keeps a
    concurrent reader from ever seeing the mixed state.
    """
    legacy = spark.read.schema("bh bigint, doc_id bigint, band int") \
        .parquet(path)
    staging = path.rstrip("/") + ".mb_migrate"
    (legacy.withColumn("mb", F.lit(LEGACY_MB))
     .repartition("band")
     .sortWithinPartitions("bh")
     .write.mode("overwrite")
     .partitionBy("mb", "band").parquet(staging))
    fs, hpath = _fs(spark, path)
    jvm = spark._jvm
    for st in fs.listStatus(hpath):
        if st.getPath().getName().startswith("band="):
            fs.delete(st.getPath(), True)
    src = jvm.org.apache.hadoop.fs.Path(
        staging.rstrip("/") + f"/mb={LEGACY_MB}")
    dst = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + f"/mb={LEGACY_MB}")
    if not fs.rename(src, dst):          # pragma: no cover - fs race
        raise IOError(f"index migration rename failed: {src} -> {dst}")
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)


def banded_rows(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(band, bh, doc_id) rows for every document — the index payload."""
    sh = word_shingles(docs, id_col, text_col)
    sig = minhash_signatures(sh, id_col=id_col, num_perm=NUM_PERM)
    rows = NUM_PERM // BANDS
    band_cols = [
        F.xxhash64(F.lit(b),
                   *[F.col(f"h{b * rows + r}") for r in range(rows)])
        .alias(f"b{b}")
        for b in range(BANDS)
    ]
    return sig.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.array(*band_cols)).alias("band", "bh"),
    ).select("band", "bh", "doc_id")


def write_index(docs: DataFrame, path: str, *, mode: str = "overwrite",
                id_col: str = "doc_id", text_col: str = "text",
                mb: int | None = None) -> None:
    """Materialize (or append to) the signature index.

    Partitioned by ``band`` (a fixed, small dir count) and sorted by
    ``bh`` within partitions: a probe for one band hash touches the one
    band directory and skips row groups whose min/max exclude the hash.

    ``mb`` (micro-batch id, non-negative) stamps every row and becomes
    the LEADING partition key: a streaming writer that re-runs a batch
    (foreachBatch is at-least-once) overwrites exactly its own
    ``mb=<id>`` partition under dynamic partition-overwrite instead of
    appending duplicate signature rows, and a probe can exclude the
    in-flight batch's own partial rows (see
    ``probe_index(exclude_mb=...)``).

    Layout discipline: the two partition layouts (``band=*`` legacy vs
    ``mb=*/band=*`` stamped) must never coexist under one root — Spark
    partition discovery fails on "conflicting directory structures".
    The first STAMPED append into a legacy root auto-migrates existing
    rows under the ``mb=-1`` sentinel (``migrate_index_to_mb``); an
    UN-stamped append into an mb-layout root is stamped with the same
    sentinel so depth stays uniform.
    """
    spark = docs.sparkSession
    # dynamic partition-overwrite never clears the root, so even
    # mode="overwrite" must respect the layout already on disk
    layout = _index_layout(spark, path)
    if mb is not None and layout == "legacy":
        migrate_index_to_mb(spark, path)
    if mb is None and layout == "mb":
        mb = LEGACY_MB          # keep partition depth uniform
    rows = banded_rows(docs, id_col=id_col, text_col=text_col)
    part_cols = ["band"]
    if mb is not None:
        rows = rows.withColumn("mb", F.lit(mb))
        part_cols = ["mb", "band"]
    (rows
     .repartition("band")
     .sortWithinPartitions("bh")
     .write.mode(mode)
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*part_cols).parquet(path))


def append_index(docs: DataFrame, path: str, *, id_col: str = "doc_id",
                 text_col: str = "text", mb: int | None = None) -> None:
    # with an mb stamp, "append" is dynamic partition OVERWRITE of the
    # batch's own partition — an idempotent append under replay
    mode = "append" if mb is None else "overwrite"
    write_index(docs, path, mode=mode, id_col=id_col,
                text_col=text_col, mb=mb)


def probe_index(spark: SparkSession, path: str, batch: DataFrame,
                corpus: DataFrame, *, threshold: float = 0.5,
                id_col: str = "doc_id",
                text_col: str = "text",
                exclude_mb: int | None = None) -> DataFrame:
    """Near-dups of ``batch`` against everything indexed.

    Returns (batch_id, corpus_id, jaccard) for verified pairs at or
    above ``threshold``.  Cost model: signature pass over the batch,
    candidate equi-join against the index (band-partition-pruned), and
    an exact verify that reads only candidate docs' text from the
    corpus — never the corpus at large.  ``batch`` ids must not collide
    with indexed ids (ingest ids are monotone in practice).

    ``exclude_mb``: drop index rows stamped with this micro-batch id —
    on an at-least-once REPLAY the index may already hold the current
    batch's own partial write, and probing against it would reject docs
    as duplicates of their same-batch peers, diverging from the
    original run.  Rows without a real ``mb`` stamp are always kept:
    files predating the stamp read as null (null-safe comparison) and
    migrated/sentinel rows carry ``mb=-1``, which no non-negative batch
    id matches.

    NOTE: this function is EAGER.  Its two ``localCheckpoint(eager=True)``
    calls (the candidate pairs, then the implicated docs' shingles) run
    real Spark jobs when the DataFrame is BUILT, before any caller
    action: the banded probe ⋈ index join and the text explode.
    Explain-only callers pay them too.
    """
    probe = banded_rows(batch, id_col=id_col, text_col=text_col)
    # explicit schema: a freshly-bootstrapped index may hold zero files
    # (partitionBy writes no parts for an empty frame), where schema
    # inference would fail; `mb` reads as null from files predating the
    # stamp
    index = spark.read.schema("bh bigint, doc_id bigint, mb bigint, band int") \
        .parquet(path)
    if exclude_mb is not None:
        index = index.filter(~F.col("mb").eqNullSafe(F.lit(exclude_mb)))
    # EAGER checkpoints on the two candidate-bounded relations (r10,
    # profiled): the pair list feeds THREE consumers (both verify join
    # sides + the corpus semi-join) and the shingle set three more
    # (verify's a-side, b-side, sizes) — unmaterialized, each consumer
    # re-ran the banded probe ⋈ index join / the text explode on its
    # own branch (four ~1.4s single-task stages at sf0.1).  Both
    # relations are O(candidates), the whole point of the index
    # posture, so materializing them is bounded however large the
    # corpus grows.
    candidates = (
        probe.select(F.col("doc_id").alias("id_b"), "band", "bh")
        .join(index.select(F.col("doc_id").alias("id_a"), "band", "bh"),
              ["band", "bh"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # verify joins shingles only for implicated ids; corpus text is
    # point-read via a semi-join on the candidate id set
    corpus_hit = corpus.join(
        candidates.select(F.col("id_a").alias(id_col)).distinct(),
        id_col, "left_semi")
    sh = word_shingles(corpus_hit.select(id_col, text_col)
                       .unionByName(batch.select(id_col, text_col)),
                       id_col, text_col).localCheckpoint(eager=True)
    verified = verify_candidates(sh, candidates, id_col=id_col)
    return (verified.filter(F.col("jaccard") >= threshold)
            .select(F.col("id_b").alias("batch_id"),
                    F.col("id_a").alias("corpus_id"),
                    F.round("jaccard", 4).alias("jaccard")))
