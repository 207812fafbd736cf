"""Session memo (``cacheutil.memo``): reuse, invalidation and the bound
on persisted storage, checked through the engine functions that use it."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from databricks_feature_store_poc_spark import cacheutil
from databricks_feature_store_poc_spark.registry import QUERIES, load_all_queries
from tests.conftest import SF_TEST

load_all_queries()


def _view(tmp_path, name: str) -> str:
    """A new path onto the test tables: every path-keyed memo misses."""
    view = tmp_path / name
    view.symlink_to(SF_TEST, target_is_directory=True)
    return str(view)


def test_gram_matrix_single_aggregate_shuffle(spark, tmp_path):
    """The gram pass shuffles only the 2080-cell aggregate — output-
    sized, independent of corpus size."""
    from databricks_feature_store_poc_spark.plans.inspect import count_exchanges

    # Build on a fresh view: on SF_TEST, embed_pca_power's persisted gram
    # cells would plan-match this query and Spark would substitute an
    # InMemoryTableScan, hiding the aggregate shape.
    df = QUERIES["embed_gram_matrix"](spark, _view(tmp_path, "gram"))
    assert count_exchanges(df) <= 1


def test_ivf_fit_memoized_across_variants(spark, tmp_path, monkeypatch):
    """Float and quantized searches share one fit: the centers (a plan
    entry) and the persisted assignment (a result entry) are both reused
    on the second call."""
    from databricks_feature_store_poc_spark.llm import similarity as S

    fits = []
    fit = S._ivf_centers

    def counting_fit(spark, sf_dir):
        fits.append(sf_dir)
        return fit(spark, sf_dir)

    monkeypatch.setattr(S, "_ivf_centers", counting_fit)
    view = _view(tmp_path, "ivf")
    a1, c1 = S._ivf_fit(spark, view)
    S.sim_ivf_topk_pairs(spark, view).collect()
    S.sim_ivf_quantized_pairs(spark, view).collect()
    a2, c2 = S._ivf_fit(spark, view)
    assert fits == [view]
    assert a1 is a2 and c1 is c2
    assert a1.is_cached


def test_shingle_index_rebuilt_after_in_place_rewrite(spark, tmp_path):
    """A corpus regenerated in place must not be served its old index.
    Forgetting the entry is not enough: Spark's CacheManager matches the
    fresh read's plan to the old cached data unless it is unpersisted."""
    from databricks_feature_store_poc_spark.llm.dedup import shingle_index

    docs = pq.read_table(os.path.join(SF_TEST, "documents.parquet"))
    stale, fresh = tmp_path / "stale", tmp_path / "fresh"
    stale.mkdir()
    fresh.mkdir()
    pq.write_table(docs, str(stale / "documents.parquet"))
    full = shingle_index(spark, str(stale)).count()

    half = docs.slice(0, docs.num_rows // 2)
    pq.write_table(half, str(stale / "documents.parquet"))
    pq.write_table(half, str(fresh / "documents.parquet"))
    rebuilt = shingle_index(spark, str(stale)).count()
    expected = shingle_index(spark, str(fresh)).count()
    assert rebuilt == expected < full


def test_result_memos_stay_bounded_across_views(spark, tmp_path):
    """One persisted copy per memo kind: running the curation queries on
    a new path each time (the registry_mix pattern) must not pin one
    more index per path."""
    counts = []
    for i in range(3):
        view = _view(tmp_path, f"v{i}")
        for name in ("sim_ann_lsh", "dedup_ngram_jaccard", "dedup_image_dhash"):
            QUERIES[name](spark, view).collect()
            cacheutil.release_checkpoints(spark)
        counts.append(len(spark.sparkContext._jsc.getPersistentRDDs()))
    assert counts[1] == counts[0] and counts[2] == counts[0], counts
