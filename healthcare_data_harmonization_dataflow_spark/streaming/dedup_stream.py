"""Incremental corpus-ingest deduplication: a streaming stage that admits
only documents not already in the corpus, flagging (or dropping) near
duplicates of history via MinHash-LSH — the streaming face of the batch
dedup suite (operators/dedup.py).

Reference contract: the reference pipeline is append-only per message
("each input creates a new resource", reference README.md:156); the
north-star's training-data engine instead must keep a 10^12-turn corpus
duplicate-free AS IT INGESTS. This stage composes the pieces the repo
already trusts:

* **Exactly-once**: survivors and the dedup index are two routes of a
  ``FanOutSink`` (streaming/sink.py) under one staged batch + batchId
  guard — a replayed epoch re-admits nothing, and a crash between the
  two route commits is healed by the staged-copy retry.
* **Determinism under replay**: every route derives from the staged
  batch plus ``read_committed()`` views of the index. A retried epoch
  sees the index WITHOUT its own uncommitted contribution (markers are
  the source of truth), so both routes recompute byte-identical output.
* **Scale**: the batch never shuffles text. Exact dedup moves 16-byte
  md5 keys; the history probe is an equi-join against the index on
  (band, band_hash) / content_hash — on a cluster the index is a
  bucketed table and these are co-located joins. Within-batch exact
  collapse is a groupBy on the hash; signatures are per-row HOFs
  (operators/dedup.py:80, no token shuffle).

Semantics (documented, pytest-pinned):

* Exact duplicates of HISTORY are dropped; exact duplicates WITHIN a
  batch collapse to the min doc_id (deterministic canonical).
* Near-duplicate = shares ≥1 MinHash LSH band with any committed doc —
  the same decision rule as ``dedup_minhash_lsh_pairs``. With
  ``verify_threshold`` set, band matches are only CANDIDATES and the
  flag additionally requires verified distinct-word Jaccard >= the
  threshold against a band-matched committed doc (LSH false positives
  stay unflagged — the verify stage corpus_curate applies to batch
  edges). Near-dups of history are flagged
  (``near_dup``/``n_band_matches``) and admitted by default, or dropped
  with ``drop_near=True``. Near-dup pairs WITHIN one
  batch are both admitted (the batch operators own intra-corpus pairs;
  this stage owns the stream-vs-history boundary) — their bands enter
  the index, so later batches see them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    jaccard_verify,
    minhash_signature,
)
from .sink import ExactlyOnceParquetSink, FanOutSink

_INDEX_SCHEMA = (
    "doc_id long, content_hash string, band int, band_hash bigint"
)


def document_index_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, content_hash, band, band_hash) rows for the dedup index:
    one band=-1 anchor row per doc (carries the exact-dedup hash even for
    docs with no tokens) plus one row per MinHash band. band_hash is
    xxhash64 over the band's signature slice — fixed-seed, deterministic
    across runs, 8 bytes on the wire."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    sig = minhash_signature(docs, text_col=text_col, id_col=id_col)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b),
                *[
                    F.col(f"mh{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            ).alias("band_hash"),
        )
        for b in range(MINHASH_BANDS)
    ]
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_hash"),
    )
    anchor = hashed.select(
        "doc_id",
        "content_hash",
        F.lit(-1).cast("int").alias("band"),
        F.lit(0).cast("bigint").alias("band_hash"),
    )
    banded = (
        hashed.join(
            sig.withColumnRenamed(id_col, "_sig_id"),
            hashed.doc_id == F.col("_sig_id"),
        )
        .filter(F.col("mh0").isNotNull())
        .select(
            "doc_id",
            "content_hash",
            F.explode(F.array(*bands)).alias("bh"),
        )
        .select(
            "doc_id", "content_hash", "bh.band", "bh.band_hash"
        )
    )
    return anchor.unionByName(banded)


@dataclass
class StreamingDedupPipeline:
    """Streaming ingest-dedup: parquet document stream -> exact dedup
    (within batch + vs committed history) -> LSH near-dup probe vs
    history -> exactly-once fan-out to ``docs/`` (survivors, with
    ``near_dup``/``n_band_matches``) and ``index/`` (their hash + band
    rows, visible to every LATER batch)."""

    out_dir: str
    text_col: str = "text"
    id_col: str = "doc_id"
    drop_near: bool = False
    #: when set, a band match alone is only a CANDIDATE: ``near_dup``
    #: additionally requires distinct-word Jaccard >= this vs at least one
    #: band-matched committed doc (the verify stage of production MinHash
    #: dedup — same rule corpus_curate applies to batch edges). LSH false
    #: positives (band collision, low true similarity) stay admitted and
    #: unflagged; ``n_band_matches`` still reports the raw candidates.
    verify_threshold: "float | None" = None
    max_files_per_trigger: "int | None" = None
    commit_mode: str = "rename"

    def __post_init__(self):
        self.docs_sink = ExactlyOnceParquetSink(
            os.path.join(self.out_dir, "docs"),
            name="docs",
            commit_mode=self.commit_mode,
        )
        self.index_sink = ExactlyOnceParquetSink(
            os.path.join(self.out_dir, "index"),
            name="index",
            commit_mode=self.commit_mode,
        )

    # ------------------------------------------------------------ history
    def _index(self, spark: SparkSession) -> DataFrame:
        """Committed index rows only — an uncommitted (crashed / in-flight)
        batch's contribution is invisible, which is what makes the retry
        recompute the same survivors."""
        if not self.index_sink.committed_batches():
            return spark.createDataFrame([], _INDEX_SCHEMA)
        return self.index_sink.read_committed(spark)

    # ---------------------------------------------------------- selectors
    def _survivors(self, staged: DataFrame) -> DataFrame:
        """The dedup computation, from the staged batch + committed index.
        Deterministic: same staged bytes + same committed markers -> same
        rows, so both FanOutSink routes (which each call this) and any
        epoch retry agree."""
        spark = staged.sparkSession
        from pyspark.sql.window import Window

        hashed = staged.withColumn(
            "content_hash",
            F.md5(F.coalesce(F.col(self.text_col), F.lit(""))),
        )
        # within-batch exact collapse to the min-id canonical: one shuffle
        # of the batch (bounded by the trigger size — at 10^12-turn scale
        # the trigger, not the corpus, caps this partition's width)
        w = Window.partitionBy("content_hash").orderBy(
            F.col(self.id_col).asc()
        )
        hashed = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        index = self._index(spark)
        # vs history: anti-join on the 16-byte key (hashes move, text
        # doesn't; the probe side is DISTINCT hashes of history)
        fresh = hashed.join(
            index.select("content_hash").distinct(),
            "content_hash",
            "left_anti",
        )
        # near-dup probe: >=1 shared LSH band with committed history
        probe = document_index_rows(
            fresh, text_col=self.text_col, id_col=self.id_col
        ).filter(F.col("band") >= 0)
        matches = (
            probe.join(
                index.filter(F.col("band") >= 0).select(
                    "band", "band_hash"
                ).distinct(),
                ["band", "band_hash"],
                "inner",
            )
            .groupBy("doc_id")
            .agg(F.countDistinct("band").cast("int").alias("n_band_matches"))
        )
        out = fresh.join(
            matches,
            fresh[self.id_col] == matches.doc_id,
            "left",
        ).select(
            fresh["*"],
            F.coalesce(matches.n_band_matches, F.lit(0)).alias(
                "n_band_matches"
            ),
        )
        if self.verify_threshold is None:
            out = out.withColumn("near_dup", F.col("n_band_matches") > 0)
        else:
            out = self._verify(out, probe, index)
        if self.drop_near:
            out = out.filter(~F.col("near_dup"))
        return out

    def _verify(
        self, out: DataFrame, probe: DataFrame, index: DataFrame
    ) -> DataFrame:
        """Exact-similarity verification of band candidates: join each
        candidate (fresh, hist) doc pair — via the shared (band,
        band_hash) bucket — to the committed survivors' text and keep
        ``near_dup`` only where distinct-word Jaccard >= the threshold.
        Only candidate PAIRS (ids + their two texts) move, never the
        corpus: at scale the candidate set is the LSH output, already
        bounded by bucket sizes."""
        if not self.docs_sink.committed_batches():
            # no committed history yet (first batch): read_committed's
            # no-history fallback has a placeholder schema; there is
            # nothing to verify against
            return out.withColumn("near_dup", F.lit(False))
        hist_ids = index.select(F.col("doc_id").alias(self.id_col)).distinct()
        # the index gates history exactly as it gates ``cand``: a retried
        # epoch's own docs may already be committed to docs/ but not to
        # index/, and must not reach the verification join
        hist_docs = self.docs_sink.read_committed(out.sparkSession).join(
            hist_ids, self.id_col, "left_semi"
        )
        cand = (
            probe.join(
                index.filter(F.col("band") >= 0).select(
                    "band",
                    "band_hash",
                    F.col("doc_id").alias("_hist_id"),
                ),
                ["band", "band_hash"],
                "inner",
            )
            .select("doc_id", "_hist_id")
            .distinct()
        )
        verified = (
            jaccard_verify(
                cand, out, hist_docs, self.verify_threshold,
                ("doc_id", "_hist_id"),
                id_col=self.id_col, text_col=self.text_col,
            )
            .filter("verified")
            .select("doc_id")
            .distinct()
            .withColumn("_verified", F.lit(True))
        )
        return out.join(
            verified, out[self.id_col] == verified.doc_id, "left"
        ).select(
            *[out[c] for c in out.columns],
            F.coalesce(verified._verified, F.lit(False)).alias("near_dup"),
        )

    def _index_rows(self, staged: DataFrame) -> DataFrame:
        surv = self._survivors(staged)
        return document_index_rows(
            surv.select(staged.columns), text_col=self.text_col,
            id_col=self.id_col,
        )

    # ---------------------------------------------------------------- run
    def run(self, spark: SparkSession, input_path: str, checkpoint: str):
        schema = spark.read.parquet(input_path).schema
        reader = spark.readStream.schema(schema)
        if self.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", self.max_files_per_trigger
            )
        stream = reader.parquet(input_path)
        fan = FanOutSink(
            routes=[
                (self.docs_sink, self._survivors),
                (self.index_sink, self._index_rows),
            ],
            staging_dir=os.path.join(self.out_dir, "_staging"),
        )
        return (
            stream.writeStream.foreachBatch(fan.foreach_batch())
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # ------------------------------------------------------------ readers
    def documents(self, spark: SparkSession) -> DataFrame:
        return self.docs_sink.read_committed(spark)

    def index(self, spark: SparkSession) -> DataFrame:
        return self._index(spark)
