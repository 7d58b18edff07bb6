"""IVF-PQ: the composed large-scale ANN index — IVF cells prune WHICH
rows a query reads, PQ codes shrink WHAT each read row costs. This is
the standard billion-vector layout (FAISS ``IVFxx,PQyy``): at 100 TB the
raw float vectors never participate in a query scan at all — the index
stores M one-byte codes per vector, hive-partitioned by cell, and a
probe reads nprobe cells' code files plus a candidate-sized slice of the
raw table for reranking.

Composition of the two components already gated elsewhere:
- coarse quantizer: `operators/clustering.fit_kmeans_centroids` (or any
  pinned (cid, cv) table) + the zero-shuffle argmax assignment;
- fine quantizer: `operators/pq` codebooks fit on CELL RESIDUALS
  (v − centroid), the detail that makes PQ codes sharp — residual norms
  are much smaller than vector norms, so the same K centroids per
  subspace spend their resolution where the cell actually varies.

Persisted as three versioned tables under ``root`` (same commit-log
semantics as `IvfIndex`): ``cells`` (vec_id, cid, codes — partitioned by
cid), ``centroids`` (cid, cv), ``codebooks`` (sub, cid, cv).

Query path: centroid scores and the per-cell ADC lookup tables are
driver-side over tiny tables (nprobe × M × K floats); the cells scan
filters cid ∈ probes (partition pruning — unprobed cells' files are
never opened), sums M map lookups per row, TakeOrdereds a candidate
set, and optionally reranks candidates against the raw vector table via
a broadcast semi-join."""

from __future__ import annotations

import math
from pathlib import Path
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2deltalake_spark.operators.clustering import assign_cosine
from odbc2deltalake_spark.operators.pq import (
    _sq_l2,
    _sub_slices,
    encode_pq,
    fit_pq_codebooks,
)
from odbc2deltalake_spark.functions.litarray import double_array_lit
from odbc2deltalake_spark.tablestore import VersionedParquetTable

_CID_STRIDE = 1 << 20
_SUB_STRIDE = 1 << 10


class IvfPqIndex:
    """Persisted IVF-PQ index; see module docstring."""

    def __init__(self, root: str | Path, dim: int, m: int = 8, k: int = 16):
        root = Path(root)
        self.dim, self.m, self.k = dim, m, k
        self.cells = VersionedParquetTable(root / "cells")
        self.centroids = VersionedParquetTable(root / "centroids")
        self.codebooks = VersionedParquetTable(root / "codebooks")
        # optional OPQ pre-transform (r11): a persisted D×D orthonormal
        # rotation applied to every vector/centroid/query — FAISS's
        # OPQ..,IVF..,PQ.. layout. Absent on indexes built without it.
        self.rotation = VersionedParquetTable(root / "rotation")

    def _load_rotation(self, spark: SparkSession):
        """The persisted rotation as a numpy [D, D] matrix, or None."""
        if not self.rotation.exists():
            return None
        import numpy as np

        rows = self.rotation.read(spark).collect()
        r = np.zeros((self.dim, self.dim))
        for row in rows:
            r[int(row["i"])] = row["r"]
        return r

    # ---------- construction ----------

    def _residuals(self, assigned: DataFrame, cent: DataFrame) -> DataFrame:
        """(vec_id, cid, v=residual): subtract each row's cell centroid —
        a broadcast join against the tiny centroid table, then a
        zip_with map."""
        return assigned.join(F.broadcast(cent), "cid").select(
            "vec_id",
            "cid",
            F.zip_with("v", "cv", lambda x, y: x - y).alias("v"),
        )

    def build(
        self,
        vectors: DataFrame,
        centroids: DataFrame,
        iterations: int = 2,
        rotate: bool = False,
    ) -> int:
        """Build from (vec_id, v) and a pinned coarse quantizer (cid,
        cv) — e.g. `fit_kmeans_centroids`. Fits the PQ codebooks on the
        residual corpus, encodes, and stores codes partitioned by cell.
        Returns the cells-table version.

        ``rotate=True`` fits and PERSISTS an OPQ pre-transform
        (operators/pca.opq_rotation: PCA basis, eigenvalue-balanced
        round-robin across the M subspaces) and builds the whole index
        in rotated space. The provided centroids are rotated with the
        SAME matrix — orthonormality preserves cosine, so cell
        assignments are identical to the unrotated ones; only the PQ
        codebooks see the balanced-variance space. Queries rotate
        driver-side; reranks stay in the original metric (L2 is
        preserved)."""
        if rotate:
            from odbc2deltalake_spark.operators.pca import (
                opq_rotation,
                rotate_vectors,
            )

            r = opq_rotation(vectors, "v", self.dim, self.m)
            spark = vectors.sparkSession
            self.rotation.write(
                spark.createDataFrame(
                    [(i, [float(x) for x in row]) for i, row in enumerate(r)],
                    "i int, r array<double>",
                ),
                mode="overwrite",
            )
            vectors = rotate_vectors(
                vectors.select("vec_id", "v"), "v", r
            )
            centroids = rotate_vectors(
                centroids.select("cid", "cv"), "cv", r, out_col="cv"
            )
        cent = centroids.select("cid", "cv").localCheckpoint(eager=True)
        self.centroids.write(cent, mode="overwrite")
        assigned = assign_cosine(
            vectors.select("vec_id", "v"), cent
        ).localCheckpoint(eager=True)
        resid = self._residuals(assigned, cent).localCheckpoint(eager=True)
        books = fit_pq_codebooks(resid, self.dim, self.m, self.k, iterations)
        self.codebooks.write(books, mode="overwrite")
        # carry=["cid"]: the encode map passes the cell id through, so no
        # corpus-sized join back to assignments (guide §2.4)
        stored = encode_pq(
            resid, self.dim, self.m, books, carry=["cid"]
        ).select("vec_id", "cid", "codes")
        return self.cells.write(stored, mode="overwrite", partition_by=["cid"])

    def append(self, vectors: DataFrame) -> int:
        """Encode ONLY new vectors against the pinned quantizers and
        append — existing cell partitions untouched (same incremental
        contract as IvfIndex.append)."""
        spark = vectors.sparkSession
        r = self._load_rotation(spark)
        if r is not None:
            from odbc2deltalake_spark.operators.pca import rotate_vectors

            vectors = rotate_vectors(vectors.select("vec_id", "v"), "v", r)
        cent = self.centroids.read(spark).localCheckpoint(eager=True)
        books = self.codebooks.read(spark).localCheckpoint(eager=True)
        assigned = assign_cosine(vectors.select("vec_id", "v"), cent)
        resid = self._residuals(assigned, cent)
        stored = encode_pq(
            resid, self.dim, self.m, books, carry=["cid"]
        ).select("vec_id", "cid", "codes")
        return self.cells.write(stored, mode="append", partition_by=["cid"])

    # ---------- maintenance ----------

    def compact(
        self, spark: SparkSession, out_partitions: int | None = None
    ) -> None:
        """Fold the one-dir-per-append cells layout into few files PER
        CELL — ``partition_by=["cid"]`` is load-bearing: the probe-time
        `cid ∈ probes` filter prunes at the hive-partition level, so a
        compaction that dropped the partitioning would turn every probe
        into a full-index scan. Centroids/codebooks/rotation are
        single-commit control-plane tables — nothing to fold."""
        self.cells.compact(
            spark, partition_by=["cid"], out_partitions=out_partitions
        )

    def maintenance_report(
        self,
        batch_threshold: int = 8,
        target_file_bytes: int = 128 << 20,
        **kwargs,
    ) -> dict:
        """Index-aware maintenance advisor (VERDICT r12 #7) over the
        cells table; recommends the INDEX'S `compact()` (cell-partition-
        preserving) once appends pass ``batch_threshold`` dirs or the
        store advisor flags small files. Metadata-only."""
        cells = self.cells.maintenance_report(
            target_file_bytes=target_file_bytes, **kwargs
        )
        advise = (
            cells["n_live_dirs"] >= batch_threshold
            or cells["advise_compact"]
        )
        return {
            "cells": cells,
            "n_append_batches": cells["n_live_dirs"],
            "advise_compact": advise,
            "recommended_action": (
                "IvfPqIndex.compact() — refold cells per cid partition "
                "(dropping the partitioning would un-prune every probe)"
            ) if advise else None,
        }

    # ---------- query ----------

    def search(
        self,
        spark: SparkSession,
        query_vec: Sequence[float],
        nprobe: int = 4,
        k: int = 10,
        candidates: int = 64,
        rerank_vectors: Optional[DataFrame] = None,
    ) -> DataFrame:
        """ADC top-k over the probed cells. Control plane: centroid
        ranking + LUT build over nprobe*M*K floats. Data plane: one
        partition-pruned scan of code rows, M map lookups each, then
        TakeOrdered; with ``rerank_vectors`` the candidate ids fetch
        their raw rows via broadcast semi-join for exact scoring.

        Coverage note (ADVICE r13): the oracled registry rows but one
        call this in the exact-equivalence configuration (probe-everything +
        full-slice rerank), which takes the skip branch below. The
        bounded ADC LUT path (nprobe < cells or candidates < slice) runs
        under the oracle in the ``sim_ann_ivfpq_adc`` row (candidates =
        n // 2, so the exact top-10 must survive the ADC cut) and is
        pinned by unit tests (tests/test_ivfpq.py: ADC == from-scratch
        numpy residual distances; recall floors on trained builds). ADC
        distances themselves are quantizer-dependent, so no
        fixture-independent SQL recomputes them."""
        q_orig = [float(x) for x in query_vec]
        q = q_orig
        rot = self._load_rotation(spark)
        if rot is not None:
            # pre-transform the query into index space (driver-side
            # D×D matvec); the exact rerank below stays in the ORIGINAL
            # metric — rotation preserves L2, and rerank_vectors are
            # original-space rows
            q = [float(x) for x in (rot @ __import__("numpy").asarray(q))]
        qn = math.sqrt(sum(x * x for x in q))
        cent = self.centroids.read(spark).collect()
        ranked = sorted(
            (
                -sum(a * b for a, b in zip(r["cv"], q))
                / (math.sqrt(sum(a * a for a in r["cv"])) * qn),
                r["cid"],
                r["cv"],
            )
            for r in cent
        )
        probes = ranked[:nprobe]
        probe_cids = [cid for _, cid, _ in probes]
        probed = self.cells.read(spark).filter(F.col("cid").isin(probe_cids))
        # The probe-everything gate keeps the count() off the production
        # path: a bounded search (nprobe < cells) never pays it, and an
        # exact-mode search is corpus-proportional by definition so the
        # one count is noise there.
        if (
            rerank_vectors is not None
            and len(probes) == len(ranked)
            and candidates >= probed.count()
        ):
            # Exact-equivalence configuration (probe-everything,
            # full-slice rerank — what the SQL oracles recompute): every
            # probed row IS a candidate, so the ADC pass ranks a set it
            # cannot shrink. Skip it — building the nprobe*M*K literal
            # lookup map and evaluating M map-lookups per row is the
            # dominant cost of exact-mode searches, for zero effect on
            # the result (the exact rerank re-scores the same set).
            qlit0 = double_array_lit(q_orig)
            return (
                rerank_vectors.join(
                    F.broadcast(probed.select("vec_id")), "vec_id"
                )
                .select(
                    "vec_id",
                    F.round(_sq_l2(F.col("v"), qlit0), 6).alias("exact_dist"),
                )
                .orderBy("exact_dist", "vec_id")
                .limit(k)
            )
        slices = _sub_slices(self.dim, self.m)
        books = self.codebooks.read(spark).collect()
        by_sub: dict[int, list] = {}
        for r in books:
            by_sub.setdefault(r["sub"], []).append(r)
        # per-probed-cell LUT: distance of the query RESIDUAL to each
        # fine centroid, keyed cid*2^20 + sub*2^10 + code
        table: dict[int, float] = {}
        for _, cid, cv in probes:
            qr = [a - b for a, b in zip(q, cv)]
            for s, (start, ln) in enumerate(slices):
                qs = qr[start - 1 : start - 1 + ln]
                for r in by_sub[s]:
                    d = sum((a - b) * (a - b) for a, b in zip(qs, r["cv"]))
                    table[cid * _CID_STRIDE + s * _SUB_STRIDE + r["cid"]] = d
        # LONG keys on BOTH sides: cids are seed vec_ids, so cid * 2^20
        # exceeds int32 whenever cid >= 2048 — an int cast would wrap the
        # column-side key while the literal side stays long, turning every
        # lookup NULL (and the ranking arbitrary)
        lut = F.create_map(
            *[
                x
                for kk, vv in sorted(table.items())
                for x in (F.lit(kk).cast("long"), F.lit(vv))
            ]
        )
        dist = F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(self.m - 1)),
                lambda c, s: F.element_at(
                    lut,
                    F.col("cid").cast("long") * _CID_STRIDE
                    + s.cast("long") * _SUB_STRIDE
                    + c.cast("long"),
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = probed.select(
            "vec_id", F.round(dist, 6).alias("approx_dist")
        )
        if rerank_vectors is None:
            return scored.orderBy("approx_dist", "vec_id").limit(k)
        cand = (
            scored.orderBy("approx_dist", "vec_id")
            .limit(candidates)
            .select("vec_id")
        )
        qlit = double_array_lit(q_orig)
        exact = _sq_l2(F.col("v"), qlit)
        return (
            rerank_vectors.join(F.broadcast(cand), "vec_id")
            .select("vec_id", F.round(exact, 6).alias("exact_dist"))
            .orderBy("exact_dist", "vec_id")
            .limit(k)
        )
