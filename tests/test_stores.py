"""The staged-store registry (stores.py): every store the entry module
declares is enumerated, one object is served per (application,
sf_dir), and ``clear()`` frees what the builds persisted —
localCheckpoint blocks included, which ``Dataset.unpersist()`` alone
leaves behind."""

from __future__ import annotations

import gc
import os
import time

import __spark_entry__ as entrymod
from marketing_attribution_etl_framework__maef_spark import domain, stores

ENTRY_STORES = {
    "journeys",
    "basket_pairs",
    "minhash_pairs",
    "dup_clusters",
    "simhash_cands",
    "kmeans8",
    "aug_kmeans8",
    "ann_truth",
    "neardup_corpus_bands",
    "bpe_rules",
    "bpe_encode",
    "pq_index",
    "ngram_sets",
    "aug_bands",
    "stream_sessions",
    "stream_user_flags",
    "dup_spans",
}


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _drain(spark) -> None:
    """Let the ContextCleaner reclaim RDDs nothing references any more
    (build intermediates), so only the stores' own blocks remain."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def test_every_store_is_registered():
    registered = stores.stores()
    entry = {n for n, fn in registered.items() if fn.__module__ == entrymod.__name__}
    assert entry == ENTRY_STORES
    for name in ENTRY_STORES:
        assert getattr(entrymod, "_" + name) is registered[name], name
    assert registered["events"] is domain.events
    # no hand-rolled cache dict lives beside the registry
    for mod in (entrymod, domain):
        stray = [n for n, v in vars(mod).items() if n.endswith("_CACHE") and isinstance(v, dict)]
        assert not stray, (mod.__name__, stray)


def test_stores_serve_one_object_and_clear_frees(spark, sf_dir):
    other_sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    stores.clear()
    _drain(spark)
    before = _persistent_rdd_ids(spark)

    ev = domain.events(spark, sf_dir)  # .cache()
    ev.count()
    jny = entrymod._journeys(spark, sf_dir)  # localCheckpoint
    pq_index = entrymod._pq_index(spark, sf_dir)  # tuple of DataFrames
    bpe = entrymod._bpe_rules(spark, sf_dir)  # plain Python list
    assert isinstance(pq_index, tuple) and isinstance(bpe, list) and bpe
    for accessor, value in (
        (domain.events, ev),
        (entrymod._journeys, jny),
        (entrymod._pq_index, pq_index),
        (entrymod._bpe_rules, bpe),
    ):
        assert accessor(spark, sf_dir) is value, accessor.__name__
    assert domain.events(spark, other_sf) is not ev
    assert domain.events(spark, sf_dir) is ev

    _drain(spark)
    assert _persistent_rdd_ids(spark) - before, "the builds persisted nothing"
    stores.clear()
    # ev/jny/pq_index stay referenced here, so garbage collection cannot
    # free their blocks: only clear() can.  The drains only give the
    # cleaner time for unreferenced build intermediates.
    for _ in range(5):
        if _persistent_rdd_ids(spark) <= before:
            break
        _drain(spark)
    assert _persistent_rdd_ids(spark) <= before, _persistent_rdd_ids(spark) - before
    assert entrymod._journeys(spark, sf_dir) is not jny
