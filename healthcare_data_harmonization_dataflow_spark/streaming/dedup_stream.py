"""Incremental corpus-ingest deduplication: a streaming stage that admits
only documents not already in the corpus, flagging (or dropping) near
duplicates of history via MinHash-LSH — the streaming face of the batch
dedup suite (operators/dedup.py).

Reference contract: the reference pipeline is append-only per message
("each input creates a new resource", reference README.md:156); the
north-star's training-data engine instead must keep a 10^12-turn corpus
duplicate-free AS IT INGESTS. The decision itself is
``operators/dedup.py:dedup_against_index`` — the same function the
oracle-gated ``dedup_incremental`` queries run through
``incremental_dedup``. This stage only wires it to the committed index
and documents, with the pieces the repo already trusts:

* **Exactly-once**: survivors and the dedup index are two routes of a
  ``FanOutSink`` (streaming/sink.py) under one staged batch + batchId
  guard — a replayed epoch re-admits nothing, and a crash between the
  two route commits is healed by the staged-copy retry.
* **Determinism under replay**: the decision runs ONCE per batch, against
  ``read_committed()`` views of the index (markers are the source of
  truth, so an epoch never sees its own uncommitted contribution), and
  ``FanOutSink`` stages its output. Both routes read that one staged
  decision — docs are the staged rows, the index is their hash + band
  rows — and a retry reuses the complete staged copy, so the routes
  agree by construction.
* **Scale**: the batch never shuffles text. Exact dedup moves 16-byte
  md5 keys; the history probe is an equi-join against the index on
  (band, band_hash) / content_hash — on a cluster the index is a
  bucketed table and these are co-located joins. Within-batch exact
  collapse is a window on the hash; signatures are per-row HOFs
  (operators/dedup.py ``minhash_signature``, no token shuffle).

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

from ..operators.dedup import dedup_against_index, document_index_rows
from .sink import ExactlyOnceParquetSink, FanOutSink

_INDEX_SCHEMA = (
    "doc_id long, content_hash string, band int, band_hash bigint"
)


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

    def __post_init__(self):
        # both routes commit through the sink's one marker step on any
        # filesystem out_dir names; there is no commit option to set
        self.docs_sink = ExactlyOnceParquetSink(
            os.path.join(self.out_dir, "docs"), name="docs"
        )
        self.index_sink = ExactlyOnceParquetSink(
            os.path.join(self.out_dir, "index"), name="index"
        )

    # ------------------------------------------------------------ history
    def _index(self, spark: SparkSession) -> DataFrame:
        """Committed index rows only — an uncommitted (crashed / in-flight)
        batch's contribution is invisible, which is what makes the retry
        recompute the same survivors. Each marker is read once a batch."""
        index = self.index_sink._read_history(spark)
        if index is None:
            return spark.createDataFrame([], _INDEX_SCHEMA)
        return index

    # ----------------------------------------------------------- decision
    def _survivors(self, batch: DataFrame) -> DataFrame:
        """operators/dedup.py:dedup_against_index over the arriving batch
        and the committed index. Run once per batch: FanOutSink stages the
        result and both routes read the staged rows."""
        spark = batch.sparkSession
        index = self._index(spark)
        history = None  # None = no committed docs: nothing to verify against
        if self.verify_threshold is not None:
            history = self.docs_sink._read_history(spark)
        if history is not None:
            # the index gates history exactly as it gates the band
            # candidates: a retried epoch's own docs may already be
            # committed to docs/ but not to index/, and must not reach the
            # verification join
            hist_ids = index.select(
                F.col("doc_id").alias(self.id_col)
            ).distinct()
            history = history.join(hist_ids, self.id_col, "left_semi")
        out = dedup_against_index(
            batch, index, history, self.verify_threshold,
            text_col=self.text_col, id_col=self.id_col,
        )
        if self.drop_near:
            out = out.filter(~F.col("near_dup"))
        return out

    def _index_rows(self, decided: DataFrame) -> DataFrame:
        return document_index_rows(
            decided, text_col=self.text_col, id_col=self.id_col
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
        fan_fn = FanOutSink(
            routes=[
                (self.docs_sink, lambda decided: decided),
                (self.index_sink, self._index_rows),
            ],
            staging_dir=os.path.join(self.out_dir, "_staging"),
        ).foreach_batch()

        def fn(df: DataFrame, batch_id: int):
            fan_fn(self._survivors(df), batch_id)

        return (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # ------------------------------------------------------------ readers
    def documents(self, spark: SparkSession) -> DataFrame:
        return self.docs_sink.read_committed(spark)

    def index(self, spark: SparkSession) -> DataFrame:
        return self._index(spark)
