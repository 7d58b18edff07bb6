"""Persisted incremental substring-dedup index — the production form of
cross-doc verbatim-span detection (Lee et al., "Deduplicating Training
Data Makes Language Models Better") for a continuously-ingested corpus.

The batch query (`queries/dedup_ops.py:dedup_substring_spans`)
re-tokenizes and re-hashes the whole corpus per invocation; at 100 TB
that is the wrong shape. A real pipeline maintains a persisted gram
index and pays per update only for the batch (VERDICT r13 #8, the
DedupIndex / Bm25Index pattern):

- `grams` (doc_id, pos, gk): the positional k-gram stream, written
  repartitioned ON doc_id so each parquet file holds a doc hash-slice,
  with per-file stats AND bloom bitmaps on ``doc_id`` — a bounded-doc
  span query prunes at the commit log before Spark plans the scan.
- `counts` (gk, nd): per-BATCH partial distinct-doc counts, appended
  per update and SUMMED at read (the Bm25Index counters trick) — the
  duplicated-gram set is `sum(nd) > 1` over a table whose size follows
  the corpus's distinct gram content, never rescanning the positional
  stream. Appends never rewrite.

Incrementality contract (the oracle): update batches carry DISJOINT doc
sets (append-only corpus), so summing per-batch distinct-doc partials
equals the global distinct-doc count per gram, and spans() over any
batch split equals the one-shot batch operator — pinned by
tests/test_substring_index.py and the `dedup_substring_incremental`
registry row's DuckDB oracle.

Scale shape: gram build is map-side array arithmetic (zero shuffle —
see :func:`positional_grams`); an append shuffles only the batch (one
hash partitioning per table); dup detection is a hash-groupBy over the
counts table (uniform 64-bit keys); the island merge windows only the
DUPLICATED grams per doc. Both tables are `VersionedParquetTable`s —
commit-logged, time-travelable, vacuumable like every other table.
Crash between the two appends: like DedupIndex, re-run the batch
(grams/counts rows for one batch are derived deterministically from the
same docs; the repair contract is check_consistent + re-append).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from odbc2deltalake_spark.session import SparkThreadPool
from odbc2deltalake_spark.tablestore import VersionedParquetTable

_GRAM_SLICES = 8  # doc_id hash-slices (files) per update batch
_COUNT_SLICES = 8  # gk hash-slices per update batch


def positional_grams(ext: DataFrame, k: int) -> DataFrame:
    """(doc_id, text) -> (doc_id, pos, gk): a 64-bit digest of each
    k-word gram at 1-based word position pos.

    Two deliberate choices, both for scale:

    - Built MAP-SIDE from the split array (transform over a position
      sequence + slice), not by exploding words and running a k-lead
      window: the window form shuffles the entire word stream on doc_id
      before hashing — at 100 TB a full-corpus exchange for something
      each row can compute locally. This plan has zero exchanges before
      the gram-digest aggregation.
    - gk = xxhash64 DIRECTLY over the sliced word array — no joined
      string is ever materialized and no cryptographic digest is paid;
      measured 1.55s vs 2.2s (lead-window+md5) vs 2.9s (slice+md5) for
      the duplicate-gram aggregate at sf0.1. gk is index-internal
      (only positions leave the operator), so the oracle's md5 keys
      don't need to match it; a 64-bit collision mislabels one gram in
      ~2^64/N — negligible against near-dup noise at any corpus size."""
    from odbc2deltalake_spark.functions.spread import spread_small_scan

    a = F.split(F.trim(F.col("text")), r"\s+")
    # r15: the gram build is the pipeline's CPU (split + per-position
    # xxhash64); a single-row-group source scans as ONE partition and
    # serializes it onto one core — spread conditionally (no-op at
    # scale). Measured: grams noop 1.61 -> 0.43 s at sf0.1.
    arr = spread_small_scan(ext).select("doc_id", a.alias("a"))
    idx = F.when(
        F.size("a") >= k, F.sequence(F.lit(1), F.size("a") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"), F.xxhash64(F.slice("a", i, k)).alias("gk")
        ),
    )
    return arr.select("doc_id", F.inline(grams))


class SubstringIndex:
    def __init__(self, root: str | Path, k: int = 8):
        root = Path(root)
        self.k = k
        self.grams = VersionedParquetTable(root / "grams")
        self.counts = VersionedParquetTable(root / "counts")

    def exists(self) -> bool:
        return self.counts.exists()

    # ------------------------------------------------------------ build --

    def _write_both(self, docs: DataFrame, mode: str) -> int:
        """One gram scan, then the grams and counts writes run
        concurrently (r14, guide §2.6): the tables are disjoint
        directories and both read the EAGERLY checkpointed gram blocks,
        so neither write recomputes the scan. The counts write (whose
        version is the return value, as before) is the caller-visible
        commit either way; a crash mid-call leaves the same
        torn-two-table states the sequential order could."""
        g = positional_grams(docs, self.k).localCheckpoint(eager=True)
        with SparkThreadPool(g.sparkSession, 2) as pool:
            f_grams = pool.submit(
                self.grams.write,
                g.repartition(_GRAM_SLICES, "doc_id"),
                mode=mode,
                per_file_stats=True,
                bloom_cols=["doc_id"],
            )
            f_counts = pool.submit(
                self.counts.write,
                g.groupBy("gk")
                .agg(F.countDistinct("doc_id").alias("nd"))
                .repartition(_COUNT_SLICES, "gk"),
                mode=mode,
                per_file_stats=True,
                bloom_cols=["gk"],
            )
            version = f_counts.result()
            f_grams.result()
        return version

    def build(self, docs: DataFrame) -> int:
        """Index the initial corpus (doc_id, text) — overwrite both
        tables."""
        return self._write_both(docs, "overwrite")

    def append(self, docs: DataFrame) -> int:
        """Index one batch of NEW documents (disjoint doc set from all
        prior batches — the append-only-corpus contract). One gram scan
        per batch; everything appended, nothing rewritten."""
        return self._write_both(docs, "append")

    # ----------------------------------------------------------- query --

    def dup_keys(self, spark: SparkSession) -> DataFrame:
        """Gram digests occurring in more than one distinct document —
        per-batch partials summed at read (disjoint-doc contract)."""
        return (
            self.counts.read(spark)
            .groupBy("gk")
            .agg(F.sum("nd").alias("nd"))
            .filter(F.col("nd") > 1)
            .select("gk")
        )

    def _spans_of(self, grams: DataFrame, dup: DataFrame) -> DataFrame:
        win = W.partitionBy("doc_id").orderBy("pos")
        hits = grams.join(dup, "gk").withColumn(
            "island", F.col("pos") - F.row_number().over(win)
        )
        return (
            hits.groupBy("doc_id", "island")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + F.lit(self.k - 1)).alias("span_end"),
                F.count(F.lit(1)).alias("n_grams"),
            )
            .select("doc_id", "span_start", "span_end", "n_grams")
        )

    def spans(self, spark: SparkSession) -> DataFrame:
        """All maximal cross-doc duplicated word spans — identical
        output contract to the batch operator (doc_id, span_start,
        span_end, n_grams), whatever batch split built the index."""
        if not self.exists():
            raise ValueError("empty index — call build() first")
        return self._spans_of(self.grams.read(spark), self.dup_keys(spark))

    def spans_for(self, spark: SparkSession, doc_ids: list[int]) -> DataFrame:
        """Spans restricted to the given docs: the grams side is
        file-pruned at the commit log (stats + bloom on doc_id) so the
        positional-stream scan follows the requested docs, not the
        corpus. The dup-key side still aggregates the counts table —
        proportional to the corpus's distinct gram content (not its
        positional stream); a deployment issuing many bounded queries
        should materialize dup_keys() once per index version."""
        if not self.exists():
            raise ValueError("empty index — call build() first")
        g = self.grams.read(
            spark, skip_where=("doc_id", "in", list(doc_ids))
        ).filter(F.col("doc_id").isin(list(doc_ids)))
        return self._spans_of(g, self.dup_keys(spark))

    def files_touched(
        self, spark: SparkSession, doc_ids: list[int]
    ) -> tuple[int, int]:
        """(pruned, total) grams file counts for a doc list — the
        observable data-skipping contract."""
        pruned = self.grams.read(
            spark, skip_where=("doc_id", "in", list(doc_ids))
        )
        total = self.grams.read(spark)
        return (len(set(pruned.inputFiles())), len(set(total.inputFiles())))

    def check_consistent(self, spark: SparkSession) -> bool:
        """Cross-table invariant (crash between the two appends): the
        summed counts must equal the grams table's true per-gram
        distinct-doc counts. O(corpus gram content) — a repair check,
        not a per-query cost."""
        truth = (
            self.grams.read(spark)
            .groupBy("gk")
            .agg(F.countDistinct("doc_id").alias("t"))
        )
        summed = (
            self.counts.read(spark).groupBy("gk").agg(F.sum("nd").alias("s"))
        )
        bad = (
            truth.join(summed, "gk", "full_outer")
            .filter(
                F.coalesce(F.col("t"), F.lit(-1))
                != F.coalesce(F.col("s"), F.lit(-2))
            )
        )
        return bad.isEmpty()
