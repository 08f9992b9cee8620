"""Round-17 OPTIMIZATION equivalence pins: every restructured hot
path must produce bit-identical rows to the spelling it replaced
(the driver hash-checks the same unchanged DuckDB twins)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ------------------ expr-built LSH signature / literal dot


def test_sig_col_equals_column_spelling(spark, emb):
    """_sig_col (one F.expr SQL string) == the per-plane Column
    spelling it replaced, bucket for bucket."""
    from cryo_spark.operators import similarity

    planes = similarity.int_planes(6, 64)
    old = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id",
            similarity._int_sig(
                similarity._quantized(F.col("embedding")), planes
            ).alias("b"),
        ).collect()
    }
    new = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", similarity._sig_col("embedding", planes).alias("b")
        ).collect()
    }
    assert old == new and len(old) > 0


def test_dot_with_literal_str_equals_column(spark, emb):
    """String-name (F.expr) path of _dot_with_literal == the Column
    path, bit for bit — same fold order, same double literals."""
    from cryo_spark.operators import similarity

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # adversarial literal: a value whose repr round-trip must be exact
    q[0] = 0.1 + 0.2
    old = {
        r["vec_id"]: r["d"]
        for r in emb.select(
            "vec_id",
            similarity._dot_with_literal(F.col("embedding"), q).alias("d"),
        ).collect()
    }
    new = {
        r["vec_id"]: r["d"]
        for r in emb.select(
            "vec_id", similarity._dot_with_literal("embedding", q).alias("d")
        ).collect()
    }
    assert old == new and len(old) > 0


# ------------------ exact batched-GEMM decontam


def test_decontam_gemm_equals_fold_on_fixture(spark, emb):
    """method='gemm' == method='fold' row-for-row on the real
    float-valued embeddings fixture (the r17 scorer accumulates
    dimension-major and rounds HALF_UP, so equality is structural,
    not data luck)."""
    from cryo_spark.operators import decontam

    corpus = emb.filter(F.col("vec_id") % 31 != 0)
    evals = emb.filter(F.col("vec_id") % 31 == 0)
    fold = {
        (r[0], r[1], r[2])
        for r in decontam.embedding_decontaminate(
            corpus, evals, min_cosine=0.35, method="fold"
        ).collect()
    }
    gemm = {
        (r[0], r[1], r[2])
        for r in decontam.embedding_decontaminate(
            corpus, evals, min_cosine=0.35, method="gemm"
        ).collect()
    }
    assert fold == gemm and len(fold) > 0


def test_hard_negatives_gemm_equals_fold_on_fixture(spark, emb):
    """hard_negatives method='gemm' == 'fold' on the real fixture:
    per-anchor top-k by ROUNDED cosine with id tie-break."""
    from cryo_spark.operators import similarity

    fold = {
        (r[0], r[1], r[2])
        for r in similarity.hard_negatives(
            emb, k=2, group_col="label", n_planes=6, dim=64
        ).collect()
    }
    gemm = {
        (r[0], r[1], r[2])
        for r in similarity.hard_negatives(
            emb, k=2, group_col="label", n_planes=6, dim=64, method="gemm"
        ).collect()
    }
    assert fold == gemm and len(fold) > 0


# ------------------ fused text -> embedding -> decontam


def test_embed_texts_equals_jvm_expr(spark, docs):
    """textembed.embed_texts (hashlib+numpy, in-scorer featurizer) ==
    the JVM text_embedding_expr, element for element — fixture docs
    plus the tokenizer edge cases (empty, NULL, \\x0b separators,
    case folding, repeated whitespace)."""
    from cryo_spark.operators import textembed

    texts = [r["text"] for r in docs.select("text").collect()]
    texts += ["", None, "  \x0b\t MiXeD CaSe\r\n x", "a  b", "\x0b"]
    frame = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    jvm = {
        r["i"]: [float(x) for x in r["e"]]
        for r in frame.select(
            "i", textembed.text_embedding_expr("text", 64).alias("e")
        ).collect()
    }
    py = textembed.embed_texts(texts, dim=64)
    assert all(
        jvm[i] == [float(x) for x in py[i]] for i in range(len(texts))
    )
    with pytest.raises(ValueError, match="power of two"):
        textembed.embed_texts(["x"], dim=63)


def test_text_embedding_decontaminate_equals_staged(spark, docs):
    """The fused text_embedding_decontaminate == the staged
    text_embeddings -> embedding_decontaminate(fold) spelling it
    replaced in llm_embedding_sim's text_embed tier."""
    from cryo_spark.operators import decontam, textembed

    temb = textembed.text_embeddings(docs, dim=64)
    fold = {
        (r[0], r[1], r[2])
        for r in decontam.embedding_decontaminate(
            temb.filter(F.col("doc_id") % 97 != 0),
            temb.filter(F.col("doc_id") % 97 == 0),
            min_cosine=0.85,
            id_col="doc_id",
        ).collect()
    }
    fused = {
        (r[0], r[1], r[2])
        for r in decontam.text_embedding_decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            min_cosine=0.85,
            id_col="doc_id",
            dim=64,
        ).collect()
    }
    assert fold == fused and len(fold) > 0


def test_text_embedding_decontaminate_empty_eval(spark, docs):
    from cryo_spark.operators import decontam

    out = decontam.text_embedding_decontaminate(
        docs, docs.limit(0), min_cosine=0.5, id_col="doc_id"
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "eval_id", "cosine",
    ]


def test_exact_round8_matches_spark_round(spark):
    """The scorer's HALF_UP Decimal rounding == Spark's round(d, 8)
    on adversarial doubles (representation-error tie neighborhoods
    where np.round's scaled-rint disagrees)."""
    from cryo_spark.operators.decontam import _exact_gemm_score  # noqa: F401
    from decimal import ROUND_HALF_UP, Decimal

    vals = [
        0.123456785,
        0.123456775,
        0.999999995,
        1.0000000049999999,
        0.35000000499999997,
        2.5e-9,
        -0.123456785,
        0.1 + 0.2,
    ]
    q8 = Decimal("1e-8")
    py = [
        float(Decimal(repr(v)).quantize(q8, rounding=ROUND_HALF_UP))
        for v in vals
    ]
    frame = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    jvm = {
        r["i"]: r["r"]
        for r in frame.select("i", F.round("v", 8).alias("r")).collect()
    }
    assert [jvm[i] for i in range(len(vals))] == py


# ------------------ expr-built text quality / language builders


def _old_token_count(c):
    trimmed = F.trim(c)
    return (
        F.when(trimmed == "", F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\x0b\f\r]+")))
        .cast("long")
    )


def test_quality_score_expr_equals_column_spelling(spark, docs):
    """quality_score_expr (one F.expr SQL string, round 17) == the
    per-term Column loop it replaced. Multiplication operands were
    commuted by the rewrite (0.4 * x vs x * 0.4) — IEEE multiplication
    is commutative at the bit level, so values must be EXACTLY equal,
    not approximately."""
    from cryo_spark.operators import text as T

    c = F.col("text")
    n_chars = F.length(c)
    n_tokens = _old_token_count(c)
    lower = F.lower(c)
    non_alnum = F.length(
        F.regexp_replace(lower, r"[a-z0-9 \t\n\x0b\f\r]", "")
    )
    stop_hits = None
    for w in T.STOPWORDS["en"]:
        hit = (
            F.size(F.split(F.concat(F.lit(" "), lower, F.lit(" ")), f" {w} "))
            - 1
        )
        stop_hits = hit if stop_hits is None else stop_hits + hit
    length_ok = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    stopword_ok = F.least(
        stop_hits / F.greatest(n_tokens.cast("double") * 0.06, F.lit(1.0)),
        F.lit(1.0),
    )
    punct_noise = F.least(
        non_alnum / F.greatest(n_chars.cast("double") * 0.25, F.lit(1.0)),
        F.lit(1.0),
    )
    old_expr = 0.4 * length_ok + 0.3 * stopword_ok + 0.3 * (1 - punct_noise)

    old = {
        r["doc_id"]: r["v"]
        for r in docs.select("doc_id", old_expr.alias("v")).collect()
    }
    new = {
        r["doc_id"]: r["v"]
        for r in docs.select(
            "doc_id", T.quality_score_expr().alias("v")
        ).collect()
    }
    assert old == new


def test_lang_best_expr_equals_column_spelling(spark, docs):
    """lang_best_expr (one F.expr named_struct array, round 17) == the
    4x10-term Column loop it replaced: same winning lang AND score."""
    from cryo_spark.operators import text as T

    lower = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), lower, F.lit(" "))
    scores = []
    for lang, words in T.STOPWORDS.items():
        s = None
        for w in words:
            hit = F.size(F.split(padded, f" {w} ")) - 1
            s = hit if s is None else s + hit
        scores.append(
            F.struct(s.cast("long").alias("score"), F.lit(lang).alias("lang"))
        )
    old_expr = F.array_max(F.array(*scores))

    old = {
        r["doc_id"]: (r["v"]["score"], r["v"]["lang"])
        for r in docs.select("doc_id", old_expr.alias("v")).collect()
    }
    new = {
        r["doc_id"]: (r["v"]["score"], r["v"]["lang"])
        for r in docs.select(
            "doc_id", T.lang_best_expr().alias("v")
        ).collect()
    }
    assert old == new


def test_word_stats_equals_column_spelling(spark, docs):
    """word_stats (expr-built projection, round 17) == the Column
    spelling it replaced, every output column."""
    from cryo_spark.operators import text as T

    c = F.col("text")
    n_chars = F.length(c)
    n_tokens = _old_token_count(c)
    lower = F.lower(c)
    non_alnum = F.length(
        F.regexp_replace(lower, r"[a-z0-9 \t\n\x0b\f\r]", "")
    )
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    spaces = F.length(F.regexp_replace(c, r"[^ \t\n\x0b\f\r]", ""))
    stop_hits = None
    for w in T.STOPWORDS["en"]:
        hit = (
            F.size(F.split(F.concat(F.lit(" "), lower, F.lit(" ")), f" {w} "))
            - 1
        )
        stop_hits = hit if stop_hits is None else stop_hits + hit
    old = docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens > 0, ((n_chars - spaces) / n_tokens)).alias(
            "mean_token_len"
        ),
        F.round(non_alnum / F.greatest(n_chars, F.lit(1)), 6).alias(
            "punct_ratio"
        ),
        F.round(digits / F.greatest(n_chars, F.lit(1)), 6).alias(
            "digit_ratio"
        ),
        F.round(uppers / F.greatest(n_chars, F.lit(1)), 6).alias(
            "upper_ratio"
        ),
        stop_hits.cast("long").alias("en_stopword_hits"),
    )
    new = T.word_stats(docs)
    o = {r["doc_id"]: tuple(r)[1:] for r in old.collect()}
    n = {r["doc_id"]: tuple(r)[1:] for r in new.collect()}
    assert o == n


# ------------------ worker daemon: stamp-checked zip invalidation


def test_stamped_invalidate_rereads_only_on_change(tmp_path):
    """The workerdaemon shim must skip the eager central-directory
    re-read while the archive stamp is unchanged, and re-read (picking
    up new members) as soon as the file changes — the exact freshness
    contract sc.addPyFile relies on."""
    import zipfile
    import zipimport

    from cryo_spark import workerdaemon

    zp = tmp_path / "mod.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("m_one.py", "X = 1\n")
    zi = zipimport.zipimporter(str(zp))
    assert zi.find_spec("m_one") is not None

    calls = []
    orig = workerdaemon._orig_invalidate

    def counting(self):
        calls.append(1)
        return orig(self)

    workerdaemon._orig_invalidate = counting
    try:
        workerdaemon._stamped_invalidate(zi)   # first: must re-read
        workerdaemon._stamped_invalidate(zi)   # unchanged: must skip
        workerdaemon._stamped_invalidate(zi)
        assert len(calls) == 1
        # grow the archive: stamp moves, next invalidate re-reads
        with zipfile.ZipFile(zp, "a") as z:
            z.writestr("m_two.py", "Y = 2\n")
        workerdaemon._stamped_invalidate(zi)
        assert len(calls) == 2
        assert zi.find_spec("m_two") is not None
    finally:
        workerdaemon._orig_invalidate = orig


def test_worker_daemon_conf_and_udf_roundtrip(spark):
    """get_spark wires the shim daemon in by default and pandas UDFs
    execute through it (workers fork from cryo_spark.workerdaemon)."""
    import pandas as pd
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.daemon.module") == "cryo_spark.workerdaemon"

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    got = (
        spark.range(100)
        .repartition(4)
        .select(F.sum(plus_one("id")).alias("s"))
        .first()["s"]
    )
    assert got == sum(range(100)) + 100


# ------------------ worker daemon: between-task GC pacing


def test_gc_policy_gen1_with_periodic_full(monkeypatch):
    """The daemon-loop collect() must run a gen-1 collect per task and
    the stock full collect exactly every ``full_every``-th task — the
    bounded-accumulation contract the docstring promises."""
    import cryo_spark.workerdaemon as wd

    seen = []

    class _FakeGc:
        @staticmethod
        def collect(*args):
            seen.append(args)
            return 0

    monkeypatch.setattr(wd, "gc", _FakeGc)
    pol = wd.GenerationalGcPolicy(full_every=5)
    for _ in range(12):
        pol.collect()
    # tasks 5 and 10 get the full collect (no generation argument)
    assert [a for a in seen if a == ()] == [(), ()]
    assert seen[4] == () and seen[9] == ()
    assert all(a == (1,) for i, a in enumerate(seen) if i not in (4, 9))


def test_gc_policy_stock_behavior_and_passthrough(monkeypatch):
    """full_every=1 (the cadence off single-JVM masters) must
    restore a full collect on every call, and an explicit generation
    argument must pass straight through to gc.collect."""
    import cryo_spark.workerdaemon as wd

    seen = []

    class _FakeGc:
        @staticmethod
        def collect(*args):
            seen.append(args)
            return 0

    monkeypatch.setattr(wd, "gc", _FakeGc)
    pol = wd.GenerationalGcPolicy(full_every=1)
    pol.collect()
    pol.collect()
    assert seen == [(), ()]
    seen.clear()
    pol.collect(0)
    assert seen == [(0,)]


def test_gc_policy_env_default(spark, monkeypatch):
    """get_spark writes the master's period into the executor env the
    daemon reads, the policy reads it back from there (stock 1 when it
    is missing), and the daemon module's gc attribute carries the
    policy so the reuse loop at pyspark/daemon.py resolves to it."""
    import pyspark.daemon as d

    import cryo_spark.workerdaemon as wd
    from cryo_spark.session import full_gc_every

    conf = spark.sparkContext.getConf()
    want = full_gc_every(spark.sparkContext.master)
    assert conf.get("spark.executorEnv.SPARK_GRAFT_FULL_GC_EVERY") == str(want)
    monkeypatch.setenv("SPARK_GRAFT_FULL_GC_EVERY", str(want))
    assert wd.GenerationalGcPolicy().full_every == want
    monkeypatch.delenv("SPARK_GRAFT_FULL_GC_EVERY")
    assert wd.GenerationalGcPolicy().full_every == 1
    assert isinstance(d.gc, wd.GenerationalGcPolicy)
    # the policy still exposes the rest of the gc API (delegation)
    assert d.gc.isenabled() in (True, False)


@pytest.mark.parametrize("master, period", [
    ("local", 10),
    ("local[4]", 10),
    ("local[*]", 10),
    ("local-cluster[2,2,1024]", 1),
    ("spark://h:7077", 1),
])
def test_full_gc_every_master_gate(master, period):
    """Single-JVM masters, bare ``local`` included, get the paced
    period; multi-executor masters keep the stock full collect."""
    from cryo_spark.session import full_gc_every

    assert full_gc_every(master) == period


# ------------------ py4j reflection memo (cryo_spark/py4jopt.py)


def test_py4j_memo_caches_statics_and_skips_field_values(spark):
    """The installed memo must (a) return the SAME JavaClass/JavaMember
    on repeated lookups without another reflection round trip, and
    (b) leave static-FIELD reads uncached (their value is mutable)."""
    from py4j.java_gateway import JavaClass, JavaMember, JVMView

    import cryo_spark.py4jopt as p

    assert p._installed, "install() should have run via get_spark()"
    assert hasattr(JVMView.__getattr__, "_cryo_orig")

    jvm = spark.sparkContext._jvm
    calls = []
    orig = JVMView.__getattr__._cryo_orig

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    # count only the slow path: the memo consults the instance cache
    # before delegating to _cryo_orig, so a second lookup of the same
    # name must not reach `counting`
    try:
        JVMView.__getattr__ = p._memoizing(counting, (JavaClass,))
        jvm.__dict__.pop(p._CACHE_ATTR, None)
        c1 = jvm.PythonUtils
        c2 = jvm.PythonUtils
        assert isinstance(c1, JavaClass) and c1 is c2
        assert calls.count("PythonUtils") == 1
    finally:
        # restore with install()'s exact semantics — JavaClass-only
        # caching (r18: a (JavaClass, JavaPackage) restore here would
        # re-enable package caching process-wide and break the r18
        # no-package-cache pin)
        JVMView.__getattr__ = p._memoizing(orig, (JavaClass,))
        jvm.__dict__.pop(p._CACHE_ATTR, None)

    # static members memoized on the class instance
    m1 = c1.toSeq
    m2 = c1.toSeq
    assert isinstance(m1, JavaMember) and m1 is m2
    # a static FIELD read must NOT be cached (value could change);
    # java.util.Locale has a mutable default via setDefault
    loc_cls = jvm.java.util.Calendar
    f1 = loc_cls.SUNDAY  # int field -> plain value, uncached
    assert f1 == 1
    assert "SUNDAY" not in loc_cls.__dict__.get(p._CACHE_ATTR, {})


# ------------------ selectExpr-built merged_part_df (contract.py)


def test_merged_part_df_equals_column_spelling(spark):
    """The single-selectExpr spelling must produce the same analyzed
    plan and the same rows as the per-column F.* loop it replaced."""
    from pyspark.sql import types as T

    from cryo_spark import contract

    df = spark.createDataFrame(
        [(1, b"\xab\xcd", "s1", 2.5), (2, None, None, None)],
        T.StructType(
            [
                T.StructField("block_number", T.LongType()),
                T.StructField("addr", T.BinaryType()),
                T.StructField("label", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        ),
    )
    cols = [
        ("block_number", "long"),
        ("address", "str"),       # mapped binary -> hex string
        ("label", "str"),         # string passthrough
        ("score", "str"),         # non-string cast
        ("missing_l", "long"),    # absent -> NULL BIGINT
        ("missing_s", "str"),     # absent -> NULL STRING
    ]
    mapping = {"address": "addr"}

    def old_spelling():
        by_name = {f.name: f.dataType for f in df.schema.fields}
        exprs = [F.lit("partx").alias("datatype")]
        for name, kind in cols:
            src = mapping.get(name, name)
            if src not in by_name:
                exprs.append(
                    F.lit(None)
                    .cast("string" if kind == "str" else "long")
                    .alias(name)
                )
            elif kind == "long":
                exprs.append(F.col(src).cast("long").alias(name))
            else:
                exprs.append(
                    contract._str_col(F.col(src), by_name[src]).alias(name)
                )
        return df.select(*exprs)

    new = contract.merged_part_df(df, "partx", mapping, cols)
    old = old_spelling()
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    # identical analyzed trees (ignoring auto-assigned expression ids)
    import re

    def canon_plan(frame):
        txt = frame._jdf.queryExecution().analyzed().toString()
        return re.sub(r"#\d+", "#", txt)

    assert canon_plan(new) == canon_plan(old)


# ------------------ round-17 session-2 expression folds


def test_norm_and_cos_sql_equal_column_spelling(spark, emb):
    """_norm_sql/_cos_sql must be bit-identical to the F.* chain they
    replaced (same sequential fold, same op order)."""
    from cryo_spark.operators import similarity as s

    vec_col = "embedding"
    row = emb.select("embedding").first()
    query = [float(x) for x in row["embedding"]]
    qnorm = s._seq_norm(query)
    old_cos = s._dot_with_literal(vec_col, query) / (
        s._norm(F.col(vec_col)) * F.lit(qnorm)
    )
    old = emb.select("vec_id", old_cos.alias("c"), s._norm(F.col(vec_col)).alias("n"))
    new = emb.select(
        "vec_id",
        F.expr(s._cos_sql(vec_col, query)).alias("c"),
        F.expr(s._norm_sql(vec_col)).alias("n"),
    )
    o = {r["vec_id"]: (r["c"], r["n"]) for r in old.collect()}
    nw = {r["vec_id"]: (r["c"], r["n"]) for r in new.collect()}
    assert o == nw  # exact float equality, not approx


def test_shingle_rows_equals_old_spelling(spark, docs):
    """The single-SQL-string shingle projection must reproduce the
    old F.* chain row-for-row (short docs below n included)."""
    from cryo_spark.operators.dedup import _norm_text, shingle_rows

    n = 3
    toks = docs.select(
        F.col("doc_id"), F.split(_norm_text("text"), " ").alias("toks")
    )
    t = F.col("toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
    grams = F.when(F.size(t) >= n, grams).otherwise(
        F.array(F.array_join(t, " "))
    )
    old = toks.select(F.col("doc_id"), F.explode(grams).alias("shingle"))
    new = shingle_rows(docs, "text", n, "doc_id")
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_be_uint_expr_equals_be_uint(spark):
    """be_uint_expr must match be_uint exactly: sub-limb values,
    two-limb values >= 2^64, max_bytes widths used by callers, and
    the >1e38 NULL (try_* overflow) contract."""
    from cryo_spark.functions import be_uint, be_uint_expr

    vals = [
        bytes.fromhex("00"),
        bytes.fromhex("ff"),
        bytes.fromhex("0102030405060708"),
        bytes.fromhex("ffffffffffffffff"),
        bytes.fromhex("0de0b6b3a7640000"),                # 1e18
        bytes.fromhex("01" + "00" * 8),                   # 2^64
        bytes.fromhex("ff" * 16),                          # > 1e38 -> NULL
        bytes.fromhex("4b3b4ca85a86c47a098a223fffffffff"),  # ~1e38 - 1
    ]
    df = spark.createDataFrame([(v,) for v in vals], "b binary")
    for mb in (1, 8, 16):
        old = [r[0] for r in df.select(be_uint(F.col("b"), mb)).collect()]
        new = [
            r[0]
            for r in df.select(F.expr(be_uint_expr("`b`", mb))).collect()
        ]
        assert old == new, f"max_bytes={mb}"
    # spot-check magnitude semantics at 16 bytes
    out = [r[0] for r in df.select(F.expr(be_uint_expr("`b`"))).collect()]
    assert out[0] == 0 and out[1] == 255 and out[5] == 2**64
    assert out[6] is None  # overflow -> NULL via try_*


def test_token_count_expr_equals_token_count(spark, docs):
    from cryo_spark.operators import text

    extra = spark.createDataFrame(
        [(1000001, ""), (1000002, "  "), (1000003, "one"),
         (1000004, "a\tb\nc\x0bd\fe\rf  g")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    old = both.select("doc_id", text.token_count("text").alias("t"))
    new = both.select(
        "doc_id", F.expr(text.token_count_expr("text") + " AS t")
    )
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_sort_shuffle_writer_default(spark):
    """The live session holds every engine constant get_spark sets
    (see the measured reasons in session.py), e.g. bypass-merge 1:
    the sort-path shuffle writer writes ONE file per map task instead
    of R per-reducer files + a concat pass."""
    want = {
        "spark.shuffle.sort.bypassMergeThreshold": "1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "65536",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.files.openCostInBytes": "65536",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "5000",
    }
    assert {k: spark.conf.get(k) for k in want} == want
