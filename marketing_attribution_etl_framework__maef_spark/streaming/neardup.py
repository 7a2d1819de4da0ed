"""Incremental (streaming) near-duplicate dedup: a ``foreachBatch``
driver that admits only documents not near-duplicating anything seen
in earlier batches — the online complement of the batch MinHash-LSH
pipeline in ``llm/dedup.py``.

Semantics are **greedy first-wins** (the standard online-dedup
contract): within a micro-batch, the batch pipeline's cluster-survivor
rule applies (min doc id per duplicate cluster); across batches, a
document is rejected iff it near-duplicates an ALREADY-ACCEPTED
survivor. This differs from global batch clustering only on similarity
chains a~b, b~c where a~c are NOT similar (batch keeps {a}, online
keeps {a, c}) — for star-shaped duplication (copies of an original)
the two agree exactly, which the test pins.

State lives in three parquet tables, exactly like
``IncrementalAttribution`` (no driver-side state):

- ``survivors``: accepted documents (all input columns);
- ``bands``: (doc_id, band, key) LSH index of accepted docs — new
  batches probe it with the SAME banded equi-join the batch path uses
  (candidates only inside buckets, never batch x store);
- ``sets``: (doc_id, shingle_set) for the exact-Jaccard verify of
  candidates.

Replay safety: all three tables are hive-partitioned by ``_batch_id``
and written with dynamic partition overwrite, so a foreachBatch retry
after a partial failure REPLACES its own partitions instead of
appending duplicates; store reads exclude the current batch's
partition, so a half-written earlier attempt can never make a batch's
documents reject against themselves. That makes ``process_batch``
idempotent, which is the contract foreachBatch requires for
exactly-once state.

Scale: per batch the store-side join touches only colliding band
buckets (the index is keyed for it), the verify joins only candidate
pairs, and the appended state is signatures/sets of ACCEPTED docs
only — state grows with the deduped corpus, not the stream. At
production scale ``bands`` would be a bucketed table so the probe join
is co-located.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd
from marketing_attribution_etl_framework__maef_spark.llm.text import normalize_text, word_shingles, words
from marketing_attribution_etl_framework__maef_spark.streaming.incremental import StreamDriver


class IncrementalNearDedup(StreamDriver):
    """foreachBatch driver: micro-batch of documents -> within-batch
    dedup -> reject near-dups of stored survivors -> append accepted
    docs + their LSH index to the store."""

    SURVIVORS = "survivors"
    BANDS = "bands"
    SETS = "sets"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 3,
        jaccard_num: int = 1,
        jaccard_den: int = 2,
    ):
        super().__init__(spark, root)
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.jaccard_num = jaccard_num
        self.jaccard_den = jaccard_den

    def _read_store(self, name: str, schema: str, exclude_batch: int) -> DataFrame:
        """Accepted state from all batches BEFORE ``exclude_batch`` —
        a retried batch must not see its own partial earlier write."""
        p = self._path(name)
        if os.path.exists(p):
            df = self.spark.read.parquet(p)
            return df.filter(F.col("_batch_id") != exclude_batch).drop("_batch_id")
        return self.spark.createDataFrame([], schema)

    def _write_batch(self, df: DataFrame, name: str, batch_id: int) -> None:
        """Idempotent micro-batch write: the batch's rows land in their
        own ``_batch_id`` partition with dynamic overwrite, so a replay
        replaces rather than duplicates."""
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self._path(name))
        )

    def _index(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(shingle sets, LSH bands) of a document frame — the same
        signature math as the batch pipeline, so online and batch
        decisions can never disagree on a pair."""
        norm = normalize_text(F.col(self.text_col))
        exploded = docs.select(
            F.col(self.id_col), F.explode(word_shingles(words(norm), self.k)).alias("shingle")
        )
        bands = dd.lsh_bands(dd.minhash_signatures(exploded, self.id_col), self.id_col)
        sets = dd.shingle_sets(docs, self.text_col, self.id_col, self.k)
        return sets, bands

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        id_col = self.id_col
        pairs = dd.minhash_dedup_pairs(
            batch_df,
            self.text_col,
            id_col,
            k=self.k,
            jaccard_num=self.jaccard_num,
            jaccard_den=self.jaccard_den,
        )
        surv = dd.survivors_from_pairs(batch_df, pairs, id_col).localCheckpoint()
        sets, bands = self._index(surv)
        sets = sets.localCheckpoint()
        bands = bands.localCheckpoint()

        store_bands = self._read_store(
            self.BANDS, f"{id_col} long, band int, key string", batch_id
        )
        cand = (
            bands.select("band", "key", F.col(id_col).alias("_new"))
            .join(
                store_bands.select("band", "key", F.col(id_col).alias("_old")),
                on=["band", "key"],
                how="inner",
            )
            .select("_new", "_old")
            .distinct()
        )
        store_sets = self._read_store(
            self.SETS, f"{id_col} long, shingle_set array<long>", batch_id
        )
        sa = sets.select(F.col(id_col).alias("_new"), F.col("shingle_set").alias("_sa"))
        sb = store_sets.select(F.col(id_col).alias("_old"), F.col("shingle_set").alias("_sb"))
        inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
        union = F.size("_sa").cast("long") + F.size("_sb").cast("long") - inter
        rejected = (
            cand.join(sa, "_new")
            .join(sb, "_old")
            .filter(inter * F.lit(self.jaccard_den) >= union * F.lit(self.jaccard_num))
            .select(F.col("_new").alias(id_col))
            .distinct()
        )
        accepted = surv.join(rejected, on=id_col, how="left_anti").localCheckpoint()

        self._write_batch(accepted, self.SURVIVORS, batch_id)
        acc_ids = accepted.select(id_col)
        self._write_batch(bands.join(acc_ids, id_col), self.BANDS, batch_id)
        self._write_batch(sets.join(acc_ids, id_col), self.SETS, batch_id)

    def survivors(self) -> DataFrame:
        return self.spark.read.parquet(self._path(self.SURVIVORS)).drop("_batch_id")
