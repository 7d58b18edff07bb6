"""Incremental near-duplicate index — the production form of MinHash
dedup for a continuously-ingested corpus.

The batch query (`queries/dedup_ops.py:dedup_minhash_lsh`) re-signatures
the whole corpus per run; at 100 TB with daily arrivals that is the
wrong shape. A real pipeline maintains a PERSISTED index and processes
only the new batch:

- stored per doc: the 8 minhash signature values (64 bytes) and the 4
  LSH band keys — NOT the shingles (which scale with document length).
  New-batch candidate pairs come from joining new band rows against
  (stored ∪ new) band rows; verification estimates Jaccard as the
  fraction of agreeing signature components (the standard minhash
  estimator), so no second pass over text is needed.
- the band table is the join surface: hive-partitioned by ``band`` so a
  probe touches one band's files per key; signatures live beside it
  keyed by doc_id.
- both tables are `VersionedParquetTable`s: appends are commit-logged,
  time-travel and vacuum work like every other table in the store.

Determinism: signatures reuse the md5-derived hash family of the batch
operator, so index contents are byte-stable across reruns, and
``append`` in any batch split yields the same index as one bulk build
(pinned by tests/test_dedup_index.py).

Estimator vs exact Jaccard: with 8 components the estimate is coarse
(granularity 1/8); the gate tests pin the ESTIMATOR's algebra, and the
batch operator's exact-verify path remains the reference for final
pair quality — at scale the estimator prunes, exact verify (against
raw text fetched for candidates only) confirms.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from odbc2deltalake_spark.session import SparkThreadPool
from odbc2deltalake_spark.tablestore import VersionedParquetTable

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2


def signature_df(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h7): minhash signatures from distinct 3-word
    shingles — the same hash family as the batch operator
    (md5 split into two 60-bit halves, xor/shift mixes)."""
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "w"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    shingles = (
        words.withColumn("w1", F.lead("w", 1).over(w))
        .withColumn("w2", F.lead("w", 2).over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("shingle"))
        .distinct()
    )
    dig = F.md5(F.col("shingle"))
    v = F.conv(F.substring(dig, 1, 15), 16, 10).cast("long")
    hw = F.conv(F.substring(dig, 17, 15), 16, 10).cast("long")
    hashed = shingles.select("doc_id", v.alias("__v"), hw.alias("__w"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.col("__v").bitwiseXOR(F.shiftright(F.col("__w"), i))).alias(
                f"h{i}"
            )
            for i in range(N_HASHES)
        ]
    )


def band_df(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): LSH banding of a signature table."""
    parts = []
    for b in range(N_HASHES // BAND_SIZE):
        cols = [
            F.col(f"h{b * BAND_SIZE + i}").cast("string")
            for i in range(BAND_SIZE)
        ]
        parts.append(
            sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("band_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def estimated_jaccard() -> F.Column:
    """Fraction of agreeing signature components between the `a.`/`b.`
    sides of a joined signature pair — the unbiased minhash estimator."""
    agree = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return agree / F.lit(float(N_HASHES))


class DedupIndex:
    """Persisted MinHash/LSH index: ``bands`` (partitioned by band) and
    ``sigs`` tables under ``root``."""

    def __init__(self, root: str | Path):
        root = Path(root)
        self.bands = VersionedParquetTable(root / "bands")
        self.sigs = VersionedParquetTable(root / "sigs")

    def build(self, docs: DataFrame) -> int:
        # r14 (guide §2.6): the two tables are disjoint directories and
        # both read the eagerly checkpointed signatures — write them
        # concurrently; crash states equal the sequential torn pairs
        # check_consistent() already detects
        sigs = signature_df(docs).localCheckpoint(eager=True)
        with SparkThreadPool(sigs.sparkSession, 2) as pool:
            f_sigs = pool.submit(self.sigs.write, sigs, mode="overwrite")
            f_bands = pool.submit(
                self.bands.write,
                band_df(sigs),
                mode="overwrite",
                partition_by=["band"],
            )
            version = f_bands.result()
            f_sigs.result()
        return version

    def append_and_find_pairs(
        self, docs: DataFrame, threshold: float = 0.5
    ) -> DataFrame:
        """Index a new batch and return its near-dup pairs (doc_a,
        doc_b, est_jaccard): new-vs-stored plus new-vs-new candidates
        from shared band keys, verified by the signature estimator.

        Cost is proportional to the BATCH, not the corpus: the new
        batch's band rows join the stored band table on (band,
        band_key) — at scale a bucketed/broadcast join keyed by content,
        touching only colliding keys — and the signature fetch for
        verification is a join on the candidate doc_ids only. The full
        corpus is never re-signatured."""
        spark = docs.sparkSession
        new_sigs = signature_df(docs).localCheckpoint(eager=True)
        new_bands = band_df(new_sigs).localCheckpoint(eager=True)

        stored_bands = self.bands.read(spark)
        # candidates: (new x stored) via shared band key, plus new x new
        nb = new_bands.alias("n")
        sb = stored_bands.alias("s")
        cand_ns = nb.join(
            sb,
            (F.col("n.band") == F.col("s.band"))
            & (F.col("n.band_key") == F.col("s.band_key"))
            & (F.col("n.doc_id") != F.col("s.doc_id")),
        ).select(
            F.least("n.doc_id", "s.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "s.doc_id").alias("doc_b"),
        )
        n2 = new_bands.alias("m")
        cand_nn = nb.join(
            n2,
            (F.col("n.band") == F.col("m.band"))
            & (F.col("n.band_key") == F.col("m.band_key"))
            & (F.col("n.doc_id") < F.col("m.doc_id")),
        ).select(
            F.col("n.doc_id").alias("doc_a"), F.col("m.doc_id").alias("doc_b")
        )
        candidates = cand_ns.unionByName(cand_nn).distinct()

        all_sigs = (
            self.sigs.read(spark)
            .unionByName(new_sigs)
            .dropDuplicates(["doc_id"])
        )
        sa = all_sigs.alias("a")
        sb2 = all_sigs.alias("b")
        est = estimated_jaccard()
        pairs = (
            candidates.join(sa, F.col("doc_a") == F.col("a.doc_id"))
            .join(sb2, F.col("doc_b") == F.col("b.doc_id"))
            .filter(est >= threshold)
            .select(
                "doc_a", "doc_b", F.round(est, 4).alias("est_jaccard")
            )
            .localCheckpoint(eager=True)
        )
        # commit the batch AFTER computing pairs (new docs must not pair
        # against themselves via the stored side). Two tables, two
        # commits — a crash in between leaves them skewed; callers
        # re-run the batch (append is idempotent at the pair level:
        # duplicate sig/band rows only widen candidate generation, never
        # lose pairs) or detect the skew with check_consistent().
        # r14: the two commit appends are disjoint tables — run them
        # concurrently; the documented skew window (crash between the
        # two commits, reconciled by re-run / check_consistent) is
        # unchanged in kind, only its ordering is no longer fixed
        with SparkThreadPool(new_sigs.sparkSession, 2) as pool:
            f_s = pool.submit(self.sigs.write, new_sigs, mode="append")
            f_b = pool.submit(
                self.bands.write,
                new_bands,
                mode="append",
                partition_by=["band"],
            )
            f_s.result()
            f_b.result()
        return pairs

    def check_consistent(self, spark: SparkSession) -> bool:
        """Cross-table invariant: every signed doc_id carries a band-key
        entry for every band (and vice versa). False after a crash
        between the two appends — re-append the affected batch (the
        extra rows are harmless, see append_and_find_pairs) or rebuild.

        Counted over DISTINCT rows: signatures are deterministic, so the
        documented re-append recovery writes byte-identical duplicates —
        the probe must report the invariant RESTORED afterwards, not
        punish the recovery it prescribes."""
        n_sigs = self.sigs.read(spark).select("doc_id").distinct().count()
        bands = self.bands.read(spark)
        n_band_docs = bands.select("doc_id").distinct().count()
        n_distinct = bands.select("doc_id", "band").distinct().count()
        return (
            n_sigs == n_band_docs
            and n_distinct == n_band_docs * (N_HASHES // BAND_SIZE)
        )

    def all_pairs(self, spark: SparkSession, threshold: float = 0.5) -> DataFrame:
        """Corpus-wide near-dup pairs from the stored index alone (no
        text access): band-key join + signature estimator."""
        a = self.bands.read(spark).alias("x")
        b = self.bands.read(spark).alias("y")
        candidates = (
            a.join(
                b,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sigs = self.sigs.read(spark)
        sa = sigs.alias("a")
        sb = sigs.alias("b")
        est = estimated_jaccard()
        return (
            candidates.join(sa, F.col("doc_a") == F.col("a.doc_id"))
            .join(sb, F.col("doc_b") == F.col("b.doc_id"))
            .filter(est >= threshold)
            .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        )
