"""Incremental ANN (IVF) index maintenance — append without retrain,
with a drift trigger for when retraining is due.

The batch ANN family (functions/similarity.py) covers build-and-query:
``ivf_centroids`` trains the coarse quantizer on a bounded sample,
``ann_ivf_topk`` assigns + probes in one job. A 100 TB ingest pipeline
needs the third verb: APPEND. New vectors arriving per micro-batch are
assigned to the EXISTING cells (one Arrow-batched matmul against the
frozen centroids — no retraining, no index rebuild), and written to
the index's partitioned layout. Retraining is a deliberate, monitored
event, not a per-batch cost: each appended batch's cell-occupancy
histogram is scored against the occupancy profile frozen at train
time with a categorical PSI (the drift family's metric over cells
instead of deciles); when the data distribution moves, cells go
lopsided, PSI crosses the act threshold, and the index flags
``needs_retrain`` — the signal to schedule a rebuild, exactly how
production vector stores (faiss-on-object-store layouts) handle
distribution shift.

Layout: ``index_dir/b=<batch>/cell=<c>/*.parquet`` — Hive-partitioned
on batch AND cell, so (a) a replayed micro-batch overwrites only its
own ``b=`` directory (the ingest-dedup exactly-once contract), and
(b) a query probing ``nprobe`` cells prunes every other cell's files
at the scan (PartitionFilters, no data read). Centroids + the
reference occupancy live in ``_meta.json`` beside the data — the
index is self-describing and reload-able after restart.
``compact()`` (the marker-commit protocol shared with the rollup and
the fingerprint index — streaming/compaction.py) folds batch
partitions into a cell-partitioned slot, so the directory count stays
bounded by k cells + the live tail regardless of stream lifetime.

Scale shape: append is a narrow map (assign UDF) + one partitioned
write — no shuffle, no driver traffic beyond the k-sized occupancy
counts. Search reads only nprobe/k of the index (partition pruning),
broadcasts the query batch, exact-reranks inside probed cells — the
ann_ivf_topk plan against a disk-resident, incrementally-grown index.

The serving tier (r13): ``build(pq_k=...)`` additionally trains
residual-PQ codebooks (faiss IVFADC — ann_ivfpq_topk's quantizer) so
every row carries a ``codes`` column; ``search_pq`` ranks candidates
by asymmetric distance reading ONLY the codes (partition- and
column-pruned scan) and exact-reranks the shortlist;
``recall_audit(pq=True)`` grades that live path against brute force.
``rebuild()`` is the retrain verb the PSI flag schedules — blue/green
into a fresh directory (pipeline.ann_index.rebuild_on_drift automates
the rotation behind a generation root + atomic CURRENT pointer).
"""

from __future__ import annotations

import json
import logging
import math
import os
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.functions.similarity import (
    PQ_ITERS,
    _pq_dist,
    _pq_twin,
    ivf_assign,
    ivf_centroids,
    norm,
    pair_cosine,
    recall_panel,
    top_per_query,
)
from sql_flow_spark.localdf import bounded_or_distributed
from sql_flow_spark.streaming.compaction import MarkerCommit
from sql_flow_spark.tables import part_files, read_footer

logger = logging.getLogger(__name__)

# PSI act threshold — same 0.25 "act" level as the drift family
# (operators/drift.py psi_drift docstring has the scale).
RETRAIN_PSI = 0.25

_META = "_meta.json"
SEED_BATCH = -1
# Marker-commit fold slots (streaming/compaction.py); distinct from
# SEED_BATCH, which is the build()-time corpus partition.
FOLD_SLOTS = (-101, -102)


def occupancy_psi(
    batch_counts: dict[int, int], ref_counts: dict[int, int], k: int
) -> float:
    """Categorical PSI over cell ids (k categories), smoothed +0.5 per
    cell so empty cells stay finite — the cell-space analog of
    psi_drift's binned PSI. Driver-side: both inputs are k-sized."""
    bt = sum(batch_counts.values()) + 0.5 * k
    rt = sum(ref_counts.values()) + 0.5 * k
    psi = 0.0
    for c in range(k):
        pb = (batch_counts.get(c, 0) + 0.5) / bt
        pr = (ref_counts.get(c, 0) + 0.5) / rt
        psi += (pb - pr) * math.log(pb / pr)
    return psi


def prune_generations(root: str, keep: int = 2) -> list[int]:
    """Disk hygiene for the rebuild_on_drift generation layout: delete
    ``g<N>`` directories older than the newest ``keep`` generations at
    or below CURRENT (generations ABOVE the pointer are never touched —
    an in-flight rotation owns them). Keeping at least 2 preserves the
    blue/green contract: readers that resolved CURRENT just before a
    rotation can still be scanning the previous generation. Returns the
    pruned generation numbers. Pure filesystem — call it from the
    maintenance cadence that also runs compact()."""
    import re
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1")
    cur_path = os.path.join(root, "CURRENT")
    if not os.path.exists(cur_path):
        return []
    with open(cur_path) as f:
        current = int(f.read().strip())
    gens = sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(r"g(\d+)", d))
        and os.path.isdir(os.path.join(root, d))
    )
    victims = [g for g in gens if g <= current][:-keep]
    for g in victims:
        shutil.rmtree(os.path.join(root, f"g{g}"), ignore_errors=True)
        logger.info("ann index %s: pruned generation g%s", root, g)
    return victims


class IncrementalIVF:
    """A disk-resident IVF(-PQ) index that grows per micro-batch.

    Build once (``build``), append forever (``append_batch``), search
    anytime (``search`` exact-in-cell / ``search_pq`` ADC),
    ``rebuild()`` when ``needs_retrain`` fires."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        centroids,
        ref_occupancy: dict[int, int],
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        nprobe: int = 4,
        pq_sub_dim: int = 8,
        pq_codebook=None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.centroids = centroids  # (k, dim) ndarray, L2-normalized
        self.ref_occupancy = dict(ref_occupancy)
        self.id_col = id_col
        self.emb_col = emb_col
        self.nprobe = nprobe
        self.pq_sub_dim = pq_sub_dim
        # (n_sub, pq_k, pq_sub_dim) ndarray or None (PQ off). NaN rows
        # mark codewords that lost every member during training — the
        # encoder never selects them, the LUT zeroes them.
        self.pq_codebook = pq_codebook
        self._mc = MarkerCommit(index_dir, FOLD_SLOTS, seed=SEED_BATCH)
        self._index_schema = None  # (memo key, schema) — see index_df

    @property
    def k(self) -> int:
        return len(self.centroids)

    @property
    def pq(self) -> bool:
        return self.pq_codebook is not None

    # ------------------------------------------------------ lifecycle

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        index_dir: str,
        corpus: DataFrame,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        k: int = 16,
        nprobe: int = 4,
        pq_k: int = 0,
        pq_sub_dim: int = 8,
    ) -> "IncrementalIVF":
        """Train the coarse quantizer on the corpus (bounded sample —
        ivf_centroids' contract), assign + write the corpus as the
        seed partition, freeze the occupancy profile. With ``pq_k`` > 0
        the build also trains residual-PQ codebooks (faiss IVFADC —
        ann_ivfpq_topk's quantizer pointed at the disk index): every
        written row then carries a ``codes`` column (one codeword id
        per ``pq_sub_dim``-wide subspace of the vector's residual to
        its cell centroid), and ``search_pq`` serves ADC-shortlisted
        queries reading those codes instead of raw vectors."""
        cent = ivf_centroids(corpus, emb_col=emb_col, id_col=id_col, k=k)
        idx = cls(
            spark, index_dir, cent, {}, id_col=id_col,
            emb_col=emb_col, nprobe=nprobe, pq_sub_dim=pq_sub_dim,
        )
        if pq_k > 0:
            idx.pq_codebook = idx._train_pq(corpus, pq_k)
        occ = idx._write_batch(corpus, SEED_BATCH)
        idx.ref_occupancy = occ
        idx._save_meta()
        return idx

    def _train_pq(self, corpus: DataFrame, pq_k: int):
        """Train per-subspace codebooks on the CELL RESIDUALS of the
        build corpus (x − c_cell — residuals are small, so codewords
        describe within-cell structure; the flat-PQ variant measured
        recall 0.075 in ann_ivfpq_topk's A/B). Training runs the two
        halves of functions/similarity._pq_codebook's pinned Lloyd
        trajectory: the numpy twin (_pq_twin) under the driver bound
        (quantizers train on a bounded sample by construction, as
        faiss does), the distributed ladder (_pq_dist) past it. Seeds
        are the pq_k smallest vec_ids (deterministic,
        id-contract-free). Returns the (n_sub, pq_k, sub_dim)
        codebook; codewords that lost every member stay NaN (never
        encoded to, zeroed in the LUT)."""
        dim = len(self.centroids[0])
        sd = self.pq_sub_dim
        if dim % sd:
            raise ValueError(
                f"embedding dim {dim} is not divisible by pq_sub_dim {sd}"
            )
        emb = corpus.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.emb_col).alias("embedding"),
        )

        def twin(pdf):
            got = _pq_twin(pdf, pq_k, None, sd, PQ_ITERS, self.centroids)
            return None if got is None else got[2]

        def dist():
            _, cb = _pq_dist(emb, pq_k, None, sd, PQ_ITERS, self.centroids)
            book = np.full((dim // sd, pq_k, sd), np.nan)
            for r in cb.collect():
                book[r["dim"] // sd, r["cluster"], r["dim"] % sd] = r["c"]
            return book

        return bounded_or_distributed(emb, twin, dist)

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str) -> "IncrementalIVF":
        import numpy as np

        with open(os.path.join(index_dir, _META)) as f:
            meta = json.load(f)
        book = meta.get("pq_codebook")
        return cls(
            spark,
            index_dir,
            np.array(meta["centroids"], dtype=np.float64),
            {int(c): n for c, n in meta["ref_occupancy"].items()},
            id_col=meta["id_col"],
            emb_col=meta["emb_col"],
            nprobe=meta["nprobe"],
            pq_sub_dim=meta.get("pq_sub_dim", 8),
            pq_codebook=(
                None if book is None
                else np.array(book, dtype=np.float64)
            ),
        )

    def _save_meta(self) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        book = None
        if self.pq_codebook is not None:
            # JSON has no NaN — dead codewords serialize as null
            book = [
                [
                    [None if v != v else float(v) for v in cw]
                    for cw in sub
                ]
                for sub in self.pq_codebook
            ]
        with open(os.path.join(self.index_dir, _META), "w") as f:
            json.dump(
                {
                    "centroids": [list(map(float, c)) for c in self.centroids],
                    "ref_occupancy": self.ref_occupancy,
                    "id_col": self.id_col,
                    "emb_col": self.emb_col,
                    "nprobe": self.nprobe,
                    "pq_sub_dim": self.pq_sub_dim,
                    "pq_codebook": book,
                },
                f,
            )

    def rebuild(
        self,
        new_index_dir: str,
        k: int | None = None,
        nprobe: int | None = None,
        pq_k: int | None = None,
        pq_sub_dim: int | None = None,
    ) -> "IncrementalIVF":
        """The RETRAIN verb — what ``needs_retrain`` schedules: train
        fresh coarse (and, if enabled, residual-PQ) quantizers on the
        CURRENT index contents and seed a NEW index directory with
        them, so the occupancy profile re-freezes around the data that
        actually arrived. Blue/green by design: an object-store index
        cannot be retrained in place while readers probe it, so the
        old directory stays live until the caller swaps serving to the
        returned index and deletes the old path. Parameters default to
        the current index's (pq_k from the stored codebook shape);
        duplicate vec_ids (re-inserts) collapse to one row, making the
        rebuild also the point where re-inserted vectors stop being
        double-stored.

        Scale shape: one pass over the old index (the corpus read),
        then build()'s budget — a bounded-sample centroid fit, the
        PQ Lloyd trajectory on the residual fact, and one partitioned
        seed write."""
        if pq_k is None and self.pq:
            pq_k = self.pq_codebook.shape[1]
        corpus = (
            self.index_df()
            .select(
                F.col("vec_id").alias(self.id_col),
                F.col("embedding").alias(self.emb_col),
            )
            .dropDuplicates([self.id_col])
        )
        return IncrementalIVF.build(
            self.spark,
            new_index_dir,
            corpus,
            id_col=self.id_col,
            emb_col=self.emb_col,
            k=k if k is not None else self.k,
            nprobe=nprobe if nprobe is not None else self.nprobe,
            pq_k=pq_k or 0,
            pq_sub_dim=(
                pq_sub_dim if pq_sub_dim is not None else self.pq_sub_dim
            ),
        )

    # -------------------------------------------------------- append

    def _assigned_base(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.emb_col).alias("embedding"),
            norm(self.emb_col).alias("nrm"),
            ivf_assign(F.col(self.emb_col), self.centroids, 1)[0].alias("cell"),
        )

    def _assigned(self, df: DataFrame) -> DataFrame:
        out = self._assigned_base(df)
        if self.pq:
            out = out.withColumn(
                "codes", self._pq_encode(F.col("embedding"), F.col("cell"))
            )
        return out

    def _pq_encode(self, emb, cell):
        """Residual-PQ encoder: per row, residual = x − c_cell, then
        per subspace the nearest codeword id (L2, ties → lowest id).
        One Arrow-batched numpy pass per batch — centroids + codebook
        ride the closure (k*dim + n_sub*pq_k*sub_dim doubles,
        broadcast-sized); map-only, no shuffle: append stays O(batch)."""
        from pyspark.sql.types import ArrayType, IntegerType

        cent = self.centroids
        book = self.pq_codebook  # (n_sub, pq_k, sd); NaN = dead codeword
        sd = self.pq_sub_dim
        n_sub = book.shape[0]

        @F.pandas_udf(ArrayType(IntegerType()))
        def _enc(embs: pd.Series, cells: pd.Series) -> pd.Series:
            mat = np.stack(embs.to_numpy()).astype(np.float64)
            res = mat - cent[cells.to_numpy(dtype=np.int64)]
            out = np.empty((len(mat), n_sub), dtype=np.int32)
            for s in range(n_sub):
                seg = res[:, s * sd:(s + 1) * sd]  # (n, sd)
                d = ((seg[:, None, :] - book[s][None, :, :]) ** 2).sum(-1)
                d = np.where(np.isnan(d), np.inf, d)  # dead codewords
                out[:, s] = np.argmin(d, axis=1)
            return pd.Series(list(out))

        return _enc(emb, cell)

    def _write_batch(self, df: DataFrame, batch_id: int) -> dict[int, int]:
        """Assign + write one batch to ``b=<id>`` (idempotent overwrite,
        cell-partitioned). Returns the batch's cell occupancy (k-sized
        driver transfer — the only collect on this path). Refuses a
        batch id at/below the compaction watermark and heartbeats the
        writer lease (streaming/compaction.py)."""
        # Align the write layout with partitionBy (guide §6): without
        # this, every upstream task writes a file into every cell dir
        # (tasks × k small files — after the r13 embeddings scan
        # spread, 32×16 per batch; the occupancy footer pass and every
        # index_df() read then pay per-file costs: the read-back stage
        # profiled 882 tasks). One cheap batch-sized shuffle keyed on
        # cell collapses it to one file per cell, the shape a 100 TB
        # partitioned index write needs anyway.
        assigned = self._assigned(df).repartition("cell")
        self._index_schema = None
        self._mc.write(
            batch_id,
            assigned.write.mode("overwrite").partitionBy("cell").parquet,
        )
        # occupancy from what was written — replay-consistent by
        # construction. r13: read per-cell row counts from the parquet
        # FOOTERS driver-side (k cell dirs, metadata-only reads)
        # instead of a Spark scan+groupBy job over the fresh batch —
        # the same numbers (footer num_rows IS the written row count),
        # ~two full Spark jobs cheaper per append/build; at object-
        # store scale this is the standard list+footer pass over one
        # batch directory, O(files in the batch).
        base = self._mc.path(batch_id)
        occ: dict[int, int] = {}
        for d in os.listdir(base):
            if not d.startswith("cell="):
                continue
            cell = int(d.split("=", 1)[1])
            # unmemoized: every batch directory is a new path
            n = read_footer(part_files(os.path.join(base, d))).nrows
            if n:
                occ[cell] = n
        return occ

    def append_batch(self, df: DataFrame, batch_id: int) -> dict:
        """Append one micro-batch without retraining. Returns
        ``{"n", "psi", "needs_retrain", "occupancy"}`` — the drift
        verdict for the monitoring loop."""
        occ = self._write_batch(df, batch_id)
        psi = occupancy_psi(occ, self.ref_occupancy, self.k)
        verdict = {
            "n": sum(occ.values()),
            "psi": psi,
            "needs_retrain": psi > RETRAIN_PSI,
            "occupancy": occ,
        }
        if verdict["needs_retrain"]:
            logger.warning(
                "ann index %s: batch %s occupancy PSI %.3f > %.2f — "
                "schedule a retrain",
                self.index_dir, batch_id, psi, RETRAIN_PSI,
            )
        return verdict

    # ---------------------------------------------------- compaction

    def compact(self, force: bool = False) -> int:
        """Fold committed batch partitions (and the build()-time seed,
        if any) into one slot by the shared marker-commit protocol
        (streaming/compaction.py), preserving the ``cell`` partitioning
        so search keeps its partition-pruned scans. Returns the number
        of batch partitions folded. Rows are concatenated as-is — a
        vec_id re-inserted in a later batch stays duplicated, exactly
        as it is across live ``b=`` partitions (search dropDuplicates
        on (qid, vec_id) already handles it)."""
        cols = ["vec_id", "embedding", "nrm", "cell"] + (
            ["codes"] if self.pq else []
        )

        def fold(sources: DataFrame, target: str, _upto: int) -> None:
            self._index_schema = None
            (
                sources.select(*cols)
                .repartition("cell")  # one file per cell (see _write_batch)
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(target)
            )

        return self._mc.compact(self.spark, fold, force)

    # -------------------------------------------------------- search

    def index_df(self) -> DataFrame:
        # Schema memo (guide §6): a bare read infers the schema from
        # file footers on EVERY call — search_pq alone reads the index
        # twice (candidate + rerank scans). Infer once and pass it
        # explicitly afterwards, until the column set may have changed:
        # this instance wrote (_write_batch and compact drop the memo),
        # or the committed marker or _meta.json (rewritten by every
        # build) differs from the one the memo was taken under. An
        # explicit schema would read columns missing from rebuilt files
        # as NULL. Partition discovery still runs (the file set does
        # change between batches).
        wm, slot = self._mc.marker()
        try:
            meta = os.stat(os.path.join(self.index_dir, _META)).st_mtime_ns
        except OSError:
            meta = None
        key = (wm, slot, meta)
        reader = self.spark.read
        memo = getattr(self, "_index_schema", None)
        if memo is not None and memo[0] == key:
            reader = reader.schema(memo[1])
        df = reader.parquet(self.index_dir)
        self._index_schema = (key, df.schema)
        return self._mc.live(df)

    def recall_audit(
        self,
        queries: DataFrame,
        topk: int = 5,
        pq: bool = False,
        shortlist: int | None = None,
    ) -> DataFrame:
        """Scheduled search-quality audit: grade ``search()`` (or the
        ADC serving path ``search_pq()`` when ``pq=True``) against a
        brute-force exact-cosine scan of the SAME indexed corpus and
        return one row — (n_queries, macro_recall, min_recall,
        perfect_queries), the ann_recall_report contract pointed at the
        live index. The two monitors are complementary: the per-batch
        cell-occupancy PSI fires on ingest DISTRIBUTION shift (cheap,
        every batch), this audit measures the resulting search
        degradation DIRECTLY (one full corpus pass — run it on the
        retrain-decision cadence, not per batch). recall = exact
        integer hits / (|Q| * topk), no order-sensitive double sums.

        Scale shape: the exact leg broadcasts the (small) query batch
        and makes one pass over the index table (no cell pruning — the
        whole point is to see what probing missed); the approx leg is
        ``search()`` with its pruned scan; scoring joins |Q|*topk-row
        frames."""
        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.emb_col).alias("ea"),
            norm(self.emb_col).alias("qnrm"),
        )
        # dropDuplicates mirrors search(): the index permits duplicate
        # vec_ids (re-inserts, post-replay seed rows — compact()
        # docstring), and a duplicated vector must not occupy multiple
        # exact top-k slots or its hits double-count (ADVICE r12).
        scored = (
            self.index_df()
            .crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                F.col("vec_id").alias("nid"),
                pair_cosine("ea", "embedding", "qnrm", "nrm").alias("cosine"),
            )
            .dropDuplicates(["qid", "nid"])
        )
        exact = (
            top_per_query(scored, topk)
            .select("qid", "nid")
            .localCheckpoint(eager=True)
        )
        approx = (
            self.search_pq(queries, topk, shortlist=shortlist)
            if pq
            else self.search(queries, topk)
        )
        return recall_panel(exact, approx, topk)

    def search(self, queries: DataFrame, topk: int = 5) -> DataFrame:
        """Probe nprobe cells per query, exact-cosine rerank inside
        them. The cell IN-filter reaches the scan as a partition
        filter: only nprobe/k of the index's files are read."""
        q = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.emb_col).alias("ea"),
            norm(self.emb_col).alias("qnrm"),
            F.explode(
                ivf_assign(F.col(self.emb_col), self.centroids, self.nprobe)
            ).alias("qcell"),
        )
        cand = (
            self.index_df()
            .join(F.broadcast(q), F.col("cell") == F.col("qcell"))
            .where(F.col("vec_id") != F.col("qid"))
            .dropDuplicates(["qid", "vec_id"])
        )
        scored = cand.select(
            "qid",
            F.col("vec_id").alias("nid"),
            pair_cosine("ea", "embedding", "qnrm", "nrm").alias("cosine"),
        )
        return top_per_query(scored, topk).select("qid", "nid", "cosine", "rank")

    def search_pq(
        self,
        queries: DataFrame,
        topk: int = 5,
        shortlist: int | None = None,
    ) -> DataFrame:
        """The ADC serving path (faiss IVFADC — ann_ivfpq_topk's plan
        pointed at the disk index): probe nprobe cells per query, rank
        ALL candidates by asymmetric distance on the stored residual-PQ
        ``codes`` (4 bits–1 byte per subspace read from the index, the
        raw ``embedding`` column never deserialized — columnar pruning
        makes the candidate scan read bytes-per-vector, the
        memory-bandwidth win that serves billion-vector cells), then
        exact-cosine rerank only the per-query ``shortlist`` (default
        10*topk) survivors. Same output contract as ``search()``:
        (qid, nid, cosine, rank).

        Scale shape: the query batch is collected once (it is already
        broadcast-sized by search()'s own contract) to build the
        per-query LUTs — |Q| * (k + n_sub*pq_k) doubles riding the
        encode closure; ADC scoring is a MAP over the partition-pruned,
        column-pruned candidate scan (no join, no shuffle); the only
        shuffles are the two per-qid top-k windows, over |cand| and
        |Q|*shortlist rows. ADC ranks dot(q, c_cell + r̂)/|x| — true
        norms ride the index rows, |q| is rank-neutral per query."""
        if not self.pq:
            raise ValueError(
                f"index {self.index_dir} has no PQ codes — build with "
                "pq_k > 0 (or use search())"
            )
        qrows = queries.select(
            F.col(self.id_col).alias("qid"),
            F.col(self.emb_col).alias("emb"),
        ).collect()
        if not qrows:
            return self.search(queries, topk)  # empty in, empty out
        short = shortlist if shortlist is not None else 10 * topk
        cent = self.centroids  # (k, dim)
        book = np.nan_to_num(self.pq_codebook)  # dead codewords -> 0
        sd = self.pq_sub_dim
        n_sub = book.shape[0]
        # per-query ADC tables: cell_terms[qid][c] = q . c_cell,
        # lut[qid][s, cw] = q_sub . codeword  (driver-side, tiny);
        # probed = union of every query's nprobe cells — known BEFORE
        # the plan, so BOTH scans below carry a literal cell IN-filter
        # that prunes at the Hive partition index (without it the
        # rerank leg's embedding read would scan every cell)
        tables = {}
        qcell_rows: list[tuple[int, int]] = []
        for r in qrows:
            qv = np.asarray(r["emb"], dtype=np.float64)
            lut = np.array(
                [book[s] @ qv[s * sd:(s + 1) * sd] for s in range(n_sub)]
            )
            tables[int(r["qid"])] = (cent @ qv, lut)
            qn = qv / max(float(np.linalg.norm(qv)), 1e-12)
            sims = cent @ qn
            for c in np.argsort(-sims)[: self.nprobe]:
                qcell_rows.append((int(r["qid"]), int(c)))
        # the driver-side assignment is AUTHORITATIVE for this search:
        # the probe frame and the scans' literal cell filter come from
        # the same arithmetic, so no candidate can fall between them
        probed_lit = sorted({c for _, c in qcell_rows})

        @F.pandas_udf("double")
        def _adc(qids: pd.Series, cells: pd.Series, codes: pd.Series) -> pd.Series:
            qa = qids.to_numpy(dtype=np.int64)
            ca = cells.to_numpy(dtype=np.int64)
            cd = np.stack(codes.to_numpy()).astype(np.int64)
            out = np.zeros(len(qa), dtype=np.float64)
            subs = np.arange(n_sub)
            for qid in np.unique(qa):
                m = qa == qid
                ct, lut = tables[int(qid)]
                out[m] = ct[ca[m]] + lut[subs[None, :], cd[m]].sum(axis=1)
            return pd.Series(out)

        from sql_flow_spark.localdf import local_df

        q = local_df(self.spark, qcell_rows, "qid long, qcell int")
        # candidate scan: ids + codes only — the embedding column is
        # pruned at the parquet reader, cells outside the probe set at
        # the partition index (literal IN on the partition column)
        cand = (
            self.index_df()
            .where(F.col("cell").isin(probed_lit))
            .select("vec_id", "nrm", "cell", "codes")
            .join(F.broadcast(q), F.col("cell") == F.col("qcell"))
            .where(F.col("vec_id") != F.col("qid"))
            .dropDuplicates(["qid", "vec_id"])
        )
        adc = cand.select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.when(F.col("nrm") == 0, F.lit(0.0))
            .otherwise(
                _adc(F.col("qid"), F.col("cell"), F.col("codes"))
                / F.col("nrm")
            )
            .alias("adc_score"),
        )
        sl = top_per_query(adc, short, score="adc_score").select("qid", "nid")
        # rerank query frame from the rows already collected above
        # (r14): same ids/vectors, same exact-decimal norm expression —
        # skips a second scan of the queries source per search
        emb_t = queries.schema[self.emb_col].dataType.simpleString()
        id_t = queries.schema[self.id_col].dataType.simpleString()
        qv = local_df(
            self.spark,
            [(r["qid"], list(r["emb"])) for r in qrows],
            f"qid {id_t}, ea {emb_t}",
        ).select("qid", "ea", norm("ea").alias("qnrm"))
        # rerank reads raw vectors ONLY from the probed cells (every
        # shortlist member lives there by construction) — the same
        # partition pruning as the candidate scan, on the heavy column
        emb_side = (
            self.index_df()
            .where(F.col("cell").isin(probed_lit))
            .select(F.col("vec_id").alias("nid"), "embedding", "nrm")
            .dropDuplicates(["nid"])
        )
        scored = (
            sl.join(emb_side, "nid")
            .join(F.broadcast(qv), "qid")
            .select(
                "qid",
                "nid",
                pair_cosine("ea", "embedding", "qnrm", "nrm").alias("cosine"),
            )
        )
        return top_per_query(scored, topk).select("qid", "nid", "cosine", "rank")


class AnnIndexLeg:
    """The ``pipeline.ann_index`` leg: maintains an ``IncrementalIVF``
    from the stream. ``conf`` is an ``AnnIndexConf``.

    Batch 0 with no index on disk TRAINS and seeds it (the build corpus
    is that batch); an existing index is loaded once and appended to
    assign-only. The PSI retrain flag logs at WARNING — or, with
    ``rebuild_on_drift``, triggers the blue/green generation rotation;
    the optional scheduled recall audit runs every ``audit_every``
    batches."""

    name = "ann_index"

    def __init__(self, spark: SparkSession, conf):
        self.spark = spark
        self.conf = conf
        self.index: Optional[IncrementalIVF] = None

    def _generation(self) -> tuple[str, int]:
        """(active index dir, generation). Without rebuild_on_drift
        the configured index_dir IS the index; with it, index_dir is a
        generation root — ``g<N>`` subdirs plus a CURRENT pointer file
        (atomic rename on rotation, absent = generation 0)."""
        c = self.conf
        if not c.rebuild_on_drift:
            return c.index_dir, 0
        cur = os.path.join(c.index_dir, "CURRENT")
        gen = 0
        if os.path.exists(cur):
            with open(cur) as f:
                gen = int(f.read().strip())
        return os.path.join(c.index_dir, f"g{gen}"), gen

    def _rotate(self, batch_id: int, psi: float) -> None:
        """Blue/green retrain into the next generation: rebuild the
        quantizers on everything indexed so far (IncrementalIVF.
        rebuild), then atomically bump CURRENT. The old generation
        stays on disk for in-flight readers; appends continue into the
        new one. Restart safety: a crash between rebuild and the
        pointer rename just leaves an unreferenced g<N+1> that the
        next rotation overwrites idempotently."""
        import shutil

        c = self.conf
        _, gen = self._generation()
        new_dir = os.path.join(c.index_dir, f"g{gen + 1}")
        # CURRENT still references g<gen>, so g<gen+1> is unreferenced
        # by construction — clear any half-written remains of a crashed
        # prior rotation before seeding (stale b= dirs behind a fresh
        # seed would double-count at read time)
        shutil.rmtree(new_dir, ignore_errors=True)
        self.index = self.index.rebuild(new_dir)
        cur = os.path.join(c.index_dir, "CURRENT")
        tmp = cur + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(gen + 1))
        os.replace(tmp, cur)  # COMMIT
        logger.warning(
            "ann_index: batch %s occupancy PSI %.3f tripped the act "
            "level — rebuilt blue/green into generation g%s (g%s left "
            "on disk for readers)",
            batch_id, psi, gen + 1, gen,
        )

    def _load(self, active_dir: str) -> IncrementalIVF:
        """Load the index on disk, checked against the live config."""
        c = self.conf
        idx = IncrementalIVF.load(self.spark, active_dir)
        # the saved meta wins for data-layout fields, but a
        # column-name mismatch would select one set of names
        # and read another — fail fast with the real cause
        # instead of an opaque append-time resolution error;
        # nprobe is a search-time knob, so the LIVE config
        # applies (ADVICE r12)
        if (idx.id_col, idx.emb_col) != (c.id_column, c.embedding_column):
            raise ValueError(
                f"ann_index at {active_dir} was built with "
                f"columns ({idx.id_col}, {idx.emb_col}) but "
                f"pipeline.ann_index configures ({c.id_column}, "
                f"{c.embedding_column}); point index_dir at a "
                "fresh directory or fix the column config"
            )
        if (c.pq_k > 0) != idx.pq:
            logger.warning(
                "ann_index: config pq_k=%s but the loaded index "
                "was built %s PQ codes — serving follows the "
                "index (PQ is fixed at build time; retrain to "
                "change it)",
                c.pq_k, "with" if idx.pq else "without",
            )
        if idx.k != c.k:
            logger.warning(
                "ann_index: config k=%s ignored — the loaded "
                "index was trained with k=%s (k is fixed at "
                "build time; retrain to change it)",
                c.k, idx.k,
            )
        if idx.nprobe != c.nprobe:
            logger.info(
                "ann_index: applying config nprobe=%s over the "
                "saved %s", c.nprobe, idx.nprobe,
            )
            idx.nprobe = c.nprobe
        return idx

    def process(self, df: DataFrame, batch_id: int) -> None:
        c = self.conf
        active_dir, _ = self._generation()
        vecs = df.select(F.col(c.id_column), F.col(c.embedding_column))
        if self.index is None:
            if os.path.exists(os.path.join(active_dir, _META)):
                self.index = self._load(active_dir)
            else:
                self.index = IncrementalIVF.build(
                    self.spark,
                    active_dir,
                    vecs,
                    id_col=c.id_column,
                    emb_col=c.embedding_column,
                    k=c.k,
                    nprobe=c.nprobe,
                    pq_k=c.pq_k,
                    pq_sub_dim=c.pq_sub_dim,
                )
                logger.info(
                    "ann_index: trained + seeded %s from batch %s",
                    active_dir, batch_id,
                )
                self._maybe_audit(batch_id)
                return
        verdict = self.index.append_batch(vecs, batch_id)
        if verdict.get("needs_retrain"):
            if c.rebuild_on_drift:
                self._rotate(batch_id, verdict.get("psi", float("nan")))
            else:
                logger.warning(
                    "ann_index: batch %s occupancy PSI %.3f exceeds the "
                    "act level — schedule a retrain (frozen centroids no "
                    "longer fit the ingest distribution)",
                    batch_id, verdict.get("psi", float("nan")),
                )
        self._maybe_audit(batch_id)

    def _maybe_audit(self, batch_id: int) -> None:
        c = self.conf
        if not c.audit_every or not c.audit_queries_path:
            return
        if batch_id % c.audit_every != 0:
            return
        q = (
            self.spark.read.format(c.audit_queries_format)
            .load(c.audit_queries_path)
            .select(F.col(c.id_column), F.col(c.embedding_column))
        )
        # with PQ enabled the audit grades the path actually serving:
        # ADC + shortlist rerank, not raw-vector search
        row = self.index.recall_audit(
            q, topk=c.audit_topk, pq=self.index.pq
        ).collect()[0]
        if row.n_queries == 0:
            # bad path/glob or everything filtered: macro/min_recall
            # are NULL — a monitoring misconfiguration must not crash
            # the leg (ADVICE r12)
            logger.warning(
                "ann_index recall audit at batch %s: query set %s "
                "produced 0 queries — audit skipped",
                batch_id, c.audit_queries_path,
            )
            return
        log = (
            logger.warning
            if row.macro_recall < c.audit_min_recall
            else logger.info
        )
        log(
            "ann_index recall audit at batch %s: macro %.3f, min %.3f, "
            "%s/%s queries perfect (floor %.3f)",
            batch_id, row.macro_recall, row.min_recall,
            row.perfect_queries, row.n_queries, c.audit_min_recall,
        )
        if c.audit_dir:
            self.spark.createDataFrame(
                [(
                    batch_id, row.n_queries, row.macro_recall,
                    row.min_recall, row.perfect_queries,
                )],
                "batch_id long, n_queries long, macro_recall double, "
                "min_recall double, perfect_queries long",
            ).write.mode("overwrite").parquet(
                os.path.join(c.audit_dir, f"b={batch_id}")
            )
