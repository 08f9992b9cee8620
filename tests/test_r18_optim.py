"""Round-18 OPTIMIZATION equivalence pins: every restructured hot
path must produce identical rows to the spelling it replaced (the
driver hash-checks the same unchanged DuckDB twins)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ------------------ local_rows (size-appropriate driver-frame slicing)


def test_local_rows_equals_createdataframe(spark):
    from cryo_spark.operators.util import local_rows

    rows = [(i, float(i) / 3.0, f"s{i}") for i in range(100)]
    schema = "a long, b double, c string"
    stock = spark.createDataFrame(rows, schema)
    sized = local_rows(spark, rows, schema)
    assert sized.schema == stock.schema
    assert sorted(map(tuple, sized.collect())) == sorted(
        map(tuple, stock.collect())
    )
    # metadata-sized input -> ONE slice (the whole point)
    assert sized.rdd.getNumPartitions() == 1


def test_local_rows_structtype_schema(spark):
    from pyspark.sql import types as T

    from cryo_spark.operators.util import local_rows

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("component", T.LongType())]
    )
    rows = [(1, 1), (2, 1), (3, 3)]
    out = local_rows(spark, rows, schema)
    assert out.schema == schema
    assert sorted(map(tuple, out.collect())) == rows
    assert out.rdd.getNumPartitions() == 1


def test_local_rows_keeps_big_lists_parallel(spark):
    from cryo_spark.operators.util import local_rows

    rows = [(i,) for i in range(20_000)]
    out = local_rows(spark, rows, "x long", rows_per_slice=8192)
    assert out.rdd.getNumPartitions() == 3  # ceil(20000/8192)
    assert out.count() == 20_000


def test_local_rows_empty(spark):
    from cryo_spark.operators.util import local_rows

    out = local_rows(spark, [], "x long, y string")
    assert out.count() == 0
    assert out.rdd.getNumPartitions() == 1


# ------------------ py4j memo: JavaPackage answers stay uncached


def test_py4j_memo_does_not_cache_packages(spark):
    """py4j answers 'package' speculatively for any name not yet
    resolvable as a class; caching that answer would freeze names
    touched before java_import as stale packages (ADVICE r17). The
    r18 memo caches JavaClass resolutions only."""
    from py4j.java_gateway import JavaPackage

    import cryo_spark.py4jopt as p

    assert p._installed
    jvm = spark.sparkContext._jvm
    jvm.__dict__.pop(p._CACHE_ATTR, None)
    pkg = jvm.java
    assert isinstance(pkg, JavaPackage)
    assert "java" not in jvm.__dict__.get(p._CACHE_ATTR, {})
    # a class resolution through the view IS cached
    c1 = jvm.PythonUtils
    assert "PythonUtils" in jvm.__dict__.get(p._CACHE_ATTR, {})
    assert jvm.PythonUtils is c1


# ------------------ readcache: nested-rewrite freshness


def test_readcache_picks_up_nested_rewrite(spark, tmp_path):
    """A file rewritten in place inside a nested partition directory
    must invalidate the read memo even when the top-level directory's
    mtime does not move (VERDICT r17 what's-wrong #2), and the memo
    keeps ONE entry per path however often that path is rewritten."""
    import os
    import time

    from cryo_spark import readcache

    base = tmp_path / "tbl"
    sub = base / "part=a"
    sub.mkdir(parents=True)
    n_memo = len(readcache._MEMO)
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(str(sub))
    d1 = readcache.read_parquet_cached(spark, str(base))
    assert d1.count() == 5
    assert readcache.read_parquet_cached(spark, str(base)) is d1
    for rows in (9, 12):
        time.sleep(0.02)
        spark.range(rows).coalesce(1).write.mode("overwrite").parquet(str(sub))
        # freeze the TOP-LEVEL dir's mtime back so only the nested
        # content is newer — a single-level key would serve the stale
        # frame
        st = os.stat(base)
        os.utime(base, ns=(st.st_atime_ns, st.st_mtime_ns - 10**9))
        assert readcache.read_parquet_cached(spark, str(base)).count() == rows
    # three versions of one path read: one memo entry, not three
    assert len(readcache._MEMO) == n_memo + 1


# ------------------ dsir shared gram stream


def test_dsir_weights_shared_grams_equal_unshared(spark, docs):
    from cryo_spark.operators import dsir

    target = docs.filter(F.col("doc_id") % 7 == 0)
    # unshared spelling (the pre-r18 path): ratios and apply each
    # tokenize the raw corpus themselves
    ratios = dsir.dsir_ratios(docs, target)
    old = dsir.dsir_apply(docs, ratios)
    new = dsir.dsir_weights(docs, target)
    o = sorted(map(tuple, old.collect()))
    n = sorted(map(tuple, new.collect()))
    assert o == n


# ------------------ jaccard: single-exchange candidate chain


def test_jaccard_single_exchange_candidates_equal_old(spark, docs):
    """The fused df-count/posting chain must produce exactly the old
    two-scan pipeline's pairs (df semantics, null-shingle drop, pair
    pruning and verify all byte-equal)."""
    from cryo_spark.operators import dedup

    sh = dedup.shingle_rows(docs)
    # old spelling: separate count_distinct + inner join + repartition
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df_"))
        .filter((F.col("df_") <= 50) & (F.col("df_") >= 2))
        .select("shingle")
    )
    rare = sh.join(dfreq, "shingle")
    par = spark.sparkContext.defaultParallelism
    old_posts = (
        rare.repartition(par, "shingle")
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .select("ids")
    )
    old_lists = sorted(tuple(r["ids"]) for r in old_posts.collect())
    new = dedup.ngram_jaccard_all_pairs(docs)
    # reach the new posting lists through the public result too
    got = sorted(map(tuple, new.collect()))
    # rebuild the old full pipeline result for comparison
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        old_posts.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .select("id_a", "id_b")
    )
    old_full = (
        dedup._verify_pairs(sh, cand)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    assert got == sorted(map(tuple, old_full.collect()))
    # and the posting lists themselves match the old ones
    uniq = sh.repartition(par, "shingle").dropDuplicates(["shingle", "doc_id"])
    from pyspark.sql import Window as W

    new_posts = (
        uniq.withColumn("df_", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        .filter(
            F.col("shingle").isNotNull()
            & (F.col("df_") <= 50)
            & (F.col("df_") >= 2)
        )
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .select("ids")
    )
    assert sorted(tuple(r["ids"]) for r in new_posts.collect()) == old_lists


# ------------------ fused text profile


def test_text_profile_fused_equals_join_spelling(spark, docs):
    """text.text_profile (one projection) must equal the old six-way
    doc_id-join spelling exactly — columns, names, types, values."""
    from cryo_spark.operators import text

    old = text.word_stats(docs)
    for part in (
        text.lang_id(docs),
        text.fingerprint(docs).drop("fingerprint"),
        text.bpe_token_count(docs).drop("n_chars"),
        text.redact_pii(docs),
        text.quality_with_repetition(docs),
    ):
        old = old.join(part, "doc_id")
    new = text.text_profile(docs)
    assert new.schema == old.schema
    o = sorted(map(tuple, old.collect()))
    n = sorted(map(tuple, new.collect()))
    assert o == n


# ------------------ funnel background boundary materialization


def test_funnel_bg_materialization_values(spark, docs):
    """corpus_funnel (checkpoint + observe + r18 background
    materialization) must equal the no-cache aggregate spelling."""
    from cryo_spark.operators import corpus

    small = docs.limit(120)
    fast = corpus.corpus_funnel(small, cache=True, budget=40)
    slow = corpus.corpus_funnel(small, cache=False, budget=40)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


# ------------------ helper thread pools end with their call


def _threads_settle_to(limit: int, timeout_s: float = 30.0) -> int:
    """Poll until at most ``limit`` Python threads are alive (a
    shut-down pool's worker exits once its queued work is done)."""
    import threading
    import time

    deadline = time.monotonic() + timeout_s
    while threading.active_count() > limit and time.monotonic() < deadline:
        time.sleep(0.1)
    return threading.active_count()


def test_funnel_background_pool_exits(spark, docs):
    """Repeated checkpointed funnels leave no background worker
    thread behind, also when stage building raises after a lineage
    cut was submitted: each run's single-worker pool is shut down
    once its stages are built, not when its frame is collected. A
    build that raises leaves no persisted RDD behind either."""
    import threading

    from cryo_spark.operators import corpus

    small = docs.limit(120)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    corpus.corpus_funnel(small, budget=40).collect()
    before = _threads_settle_to(threading.active_count())
    errors = []
    for _ in range(3):
        corpus.corpus_funnel(small, budget=40).collect()
        n_persistent = len(persistent())
        # raises after the quality_lang_exact cut went to the pool; a
        # caller keeping the error keeps the raising frame alive
        with pytest.raises(ValueError, match="lm_keep_frac") as err:
            corpus.corpus_funnel(small, budget=40, lm_keep_frac=1.5)
        errors.append(err)
        # the failed build released its boundary caches and cut RDDs
        assert len(persistent()) <= n_persistent
    assert _threads_settle_to(before) <= before


def test_q_ann_topk_pool_exits_on_error(spark, monkeypatch):
    """An exception after q_ann_topk's two submits must not leak its
    pool: the threads are gone when the exception reaches the caller."""
    import threading

    import __spark_entry__ as entrymod
    from cryo_spark.operators import similarity

    def boom(*_args, **_kwargs):
        raise RuntimeError("sample failed")

    monkeypatch.setattr(similarity, "sample_matrix", boom)
    before = threading.active_count()
    with pytest.raises(RuntimeError, match="sample failed"):
        entrymod.q_ann_topk(spark, SF_DIR)
    assert threading.active_count() <= before
