"""Physical-plan assertions (docs/PLANS.md): the engine must not defeat
Catalyst — probe before exchange, pruned partial scans, pushdown intact.
These are the properties that survive (or die) at the 100 TB scale-up."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, assert_df_equal


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _lineitem_and_sub(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    sub = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .filter(F.col("p_partkey") % 10 == 0)
        .select("p_partkey", "p_name")
    )
    return li, sub


def _no_exchange_below(tree: list[str], node_idx: int) -> bool:
    """No Exchange between the tree line ``node_idx`` and the first
    probe-side parquet scan below it."""
    scan_idx = next(
        i for i, l in enumerate(tree[node_idx:], node_idx) if "Scan parquet" in l
    )
    return "Exchange" not in "\n".join(tree[node_idx:scan_idx])


def test_probe_is_vectorized_and_pre_exchange(spark, monkeypatch):
    """A filter above the codegen cap gets the broadcast pandas probe:
    vectorized, and in the same pre-exchange block as the probe scan."""
    import importlib

    from bloomjoin_spark import bloom_join

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    monkeypatch.setattr(bj, "_NATIVE_FILTER_CAP_BYTES", 16)  # header only
    li, sub = _lineitem_and_sub(spark)
    out = bloom_join(
        li, sub, on={"l_partkey": "p_partkey"}, how="inner",
        force_prefilter=True, collect_metrics=False, engine="bloom",
    )
    plan = _plan(out)
    # vectorized Arrow probe, never row-at-a-time Python
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # in the tree section the ArrowEvalPython line is below the join and
    # above the probe-side Scan, with no Exchange between them
    tree = plan.split("\n\n")[0].splitlines()
    probe_idx = next(i for i, l in enumerate(tree) if "ArrowEvalPython" in l)
    assert _no_exchange_below(tree, probe_idx)
    assert_df_equal(out, li.join(sub, li.l_partkey == sub.p_partkey, "inner"))


def test_under_cap_probe_is_codegen_and_pre_exchange(spark):
    """engine='bloom' with a filter under the cap: the probe is the
    codegen BloomFilterMightContain over the sketch's Spark bytes — zero
    Python operators — still before the exchange, and the output exact."""
    from bloomjoin_spark import bloom_join
    from bloomjoin_spark.plans import plan_audit

    li, sub = _lineitem_and_sub(spark)
    out, rep = bloom_join(
        li, sub, on={"l_partkey": "p_partkey"}, how="inner",
        force_prefilter=True, collect_metrics=False, engine="bloom",
        return_report=True,
    )
    assert rep.engine == "bloom" and rep.engine_fallback_reason is None
    assert plan_audit(out).python_operators == []
    plan = _plan(out)
    # the Filter node whose condition is the probe, located in the tree
    node = next(
        b.split()[0] for b in plan.split("\n\n")
        if b.split()[1:2] == ["Filter"] and "might_contain" in b
    )
    tree = plan.split("\n\n")[0].splitlines()
    probe_idx = next(i for i, l in enumerate(tree) if f"Filter {node}" in l)
    assert _no_exchange_below(tree, probe_idx)
    assert_df_equal(out, li.join(sub, li.l_partkey == sub.p_partkey, "inner"))


@pytest.mark.parametrize("collect_metrics", [False, True])
def test_codegen_probe_stays_on_the_probe_side(spark, collect_metrics):
    """The codegen probe is not copied through the join condition onto
    the build side (where a filter built from those keys passes every
    row): one ``might_contain`` in the optimized plan, under either
    value of ``collect_metrics``, and the output exact."""
    from bloomjoin_spark import bloom_join

    li, sub = _lineitem_and_sub(spark)
    out, rep = bloom_join(
        li, sub, on={"l_partkey": "p_partkey"}, how="inner", engine="native",
        force_prefilter=True, collect_metrics=collect_metrics, return_report=True,
    )
    assert rep.engine == "native" and rep.used_prefilter
    assert out._jdf.queryExecution().optimizedPlan().toString().count("might_contain") == 1
    assert_df_equal(out, li.join(sub, li.l_partkey == sub.p_partkey, "inner"))


def _membership_case(spark, case):
    """``(out, exact)`` for one caller of ``bloom_join.membership_filter``:
    its output under a filter below the cap, and the exact path its
    module's tests compare against."""
    from bloomjoin_spark.operators import contaminated_docs, contaminated_docs_many
    from bloomjoin_spark.operators.decontam import ngrams_col
    from bloomjoin_spark.operators.spans import duplicate_span_starts
    from bloomjoin_spark.streaming import bloom_join_stream

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, tokens array<int>")

    corpus = docs(
        [(i, [i, i + 1, i + 2, 5, 6, 7]) for i in range(0, 40, 2)]
        + [(i, [100 + i, 200 + i, 300 + i, 3, 4, 5]) for i in range(1, 40, 2)]
    )
    benches = {"a": docs([(900, [5, 6, 7])]), "b": docs([(901, [3, 4, 5, 6])])}

    def exact_hits(bench):
        c = corpus.select("doc_id", F.explode(ngrams_col(F.col("tokens"), 3)).alias("ng"))
        b = bench.select(F.explode(ngrams_col(F.col("tokens"), 3)).alias("ng")).distinct()
        return c.join(b, "ng").groupBy("doc_id").agg(F.count_distinct("ng").alias("n_hits"))

    if case in ("decontam_bloom", "decontam_auto"):
        engine = case.split("_")[1]
        return (contaminated_docs(corpus, benches["a"], n=3, engine=engine),
                exact_hits(benches["a"]))
    if case == "decontam_many_bloom":
        exact = None
        for name, bench in benches.items():
            e = exact_hits(bench).select("doc_id", F.lit(name).alias("suite"), "n_hits")
            exact = e if exact is None else exact.unionByName(e)
        return contaminated_docs_many(corpus, benches, n=3, engine="bloom"), exact
    if case == "spans":
        # max_filter_bytes=0 skips the prefilter: every document takes
        # the exact locate path
        return (duplicate_span_starts(corpus, n=3),
                duplicate_span_starts(corpus, n=3, max_filter_bytes=0))
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    return bloom_join_stream(x, y, on="id"), x.join(y, "id", "inner")


@pytest.mark.parametrize(
    "case",
    ["decontam_bloom", "decontam_auto", "decontam_many_bloom", "spans",
     "bloom_join_stream"],
)
def test_membership_filter_callers_probe_in_codegen(spark, case):
    """Every caller of ``membership_filter`` probes a filter under the
    cap in codegen, whichever engine built it: no Python operator in the
    returned plan, and rows equal to the exact path."""
    from bloomjoin_spark.plans import plan_audit

    out, exact = _membership_case(spark, case)
    assert plan_audit(out).python_operators == []
    assert_df_equal(out, exact)


def test_auto_engine_is_all_jvm_without_metrics(spark):
    """engine='auto' + collect_metrics=False + no checkpoint: the probe
    must be the codegen BloomFilterMightContain expression — NO Python
    stage anywhere in the plan (the constrained-memory-safe path)."""
    from bloomjoin_spark import bloom_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    sub = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .filter(F.col("p_partkey") % 10 == 0)
        .select("p_partkey", "p_name")
    )
    out, rep = bloom_join(
        li, sub, on={"l_partkey": "p_partkey"}, how="inner",
        force_prefilter=True, collect_metrics=False, return_report=True,
    )
    assert rep.engine == "native"
    plan = _plan(out)
    assert "might_contain" in plan or "BloomFilterMightContain" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_partial_scan_is_column_pruned(spark):
    from bloomjoin_spark.aggregate import sketch_partials
    from bloomjoin_spark.sketches import HllSketch

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(sketch_partials(li, lambda: HllSketch(14), cols=["l_partkey"]))
    assert "ReadSchema: struct<l_partkey:bigint>" in plan


def test_token_partial_scan_is_column_pruned(spark):
    from bloomjoin_spark.aggregate import sketch_partials
    from bloomjoin_spark.datagen import token_table
    from bloomjoin_spark.sketches import HllSketch

    toks = token_table(spark, 1000, vocab=100, max_tok=8, num_partitions=2)
    plan = _plan(sketch_partials(toks, lambda: HllSketch(14), token_col="tokens"))
    # mapInArrow stage receives only the tokens column
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "PythonMapInArrow" in plan


def test_filter_pushdown_through_operators(spark):
    from bloomjoin_spark.operators import add_text_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("lang") == "en"
    )
    plan = _plan(add_text_stats(docs).select("doc_id", "n_tokens"))
    assert "EqualTo(lang,en)" in plan


def test_exact_dedup_partial_aggregates(spark):
    """exact_dedup's fingerprint groupBy must partial-aggregate
    (map-side combine): at 100 TB the shuffle carries one (md5, min_id)
    row per distinct fingerprint per partition, not every input row."""
    from bloomjoin_spark.operators import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert "partial_min" in plan  # HashAggregate partial before Exchange
    assert "BatchEvalPython" not in plan


def test_text_ops_are_pure_codegen(spark):
    """Text stats / lang-ID / fingerprints are whole-stage-codegen
    expressions — no Python stage of any kind in the plan."""
    from bloomjoin_spark.operators import add_lang_id, add_text_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(add_lang_id(add_text_stats(docs)))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas"):
        assert marker not in plan
    # one narrow-pipeline shape: scan → project, no exchange of any kind
    assert "Exchange" not in plan and "Project" in plan


def test_ivf_partitioned_fetch_is_partition_pruned(spark, tmp_path):
    """write_ivf_partitioned + ann_ivf_topk_partitioned: the corpus scan
    must carry the probed cell ids as PartitionFilters (read nprobe of
    nlist directories), not scan the full corpus and filter later."""
    import numpy as np

    from bloomjoin_spark.operators import (
        ann_ivf_topk_partitioned,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = train_ivf_centroids(emb, nlist=8, sample=2000, iters=4)
    path = str(tmp_path / "ivf_corpus")
    write_ivf_partitioned(emb, cent, path)
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_ivf_topk_partitioned(
        spark, path, queries, cent, k=5, nprobe=2
    )
    plan = _plan(out)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "corpus scan has no PartitionFilters"
    assert "ivf_cell" in m.group(1) and ("IN" in m.group(1) or "in(" in m.group(1).lower())
    # and the result is sane: every query returns rows, ranked 1..k
    rows = out.collect()
    assert rows and all(1 <= r["rank"] <= 5 for r in rows)


def test_lsh_signature_udf_runs_once(spark):
    """Regression: the banded table feeds the bucket-size cap AND both
    sides of the candidate self-join; without a materialization point
    Catalyst re-runs the signature UDF once per branch (observed 4× in
    the physical plan). The executed plan must contain at most one live
    signature stage — the rest must read the checkpointed RDD."""
    from bloomjoin_spark.operators.dedup import (
        add_minhash_signature,
        lsh_candidate_pairs,
        with_shingle_hashes,
    )

    docs = spark.createDataFrame(
        [(i, f"some words here number {i % 7} padding tokens") for i in range(200)],
        "doc_id long, text string",
    )
    sh = with_shingle_hashes(docs, "text", 3).select("doc_id", "shingles")
    sigs = add_minhash_signature(sh, "shingles", 16)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "minhash", 4, max_bucket_size=50)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    n_udf_stages = plan.count("MapInArrow") + plan.count("MapInPandas")
    assert n_udf_stages <= 1, f"signature UDF appears {n_udf_stages}× in plan"
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan or n_udf_stages == 0


def test_pack_sequences_scan_is_pruned(spark):
    """pack_sequences over a parquet table must prune the scan to the
    id + token-source columns — packing a 100 TB corpus must not read
    the payload columns (check ReadSchema), and the pack function must
    be one Arrow stage with no Exchange below it (partition-local)."""
    from bloomjoin_spark.operators import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(pack_sequences(docs, max_tokens=128, text_col="text"))
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in rs and "text" in rs
    # payload columns not scanned
    assert "lang" not in rs and "source" not in rs and "n_chars" not in rs
    assert "Exchange" not in plan  # single partition-local pass
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_hash_split_pushdown_survives(spark):
    """hash_split is a stateless projection: a filter on the split
    label must not block pushdown of OTHER predicates to the scan."""
    from bloomjoin_spark.operators import hash_split

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = hash_split(docs, "doc_id", {"train": 0.9, "val": 0.1}).filter(
        (F.col("split") == "train") & (F.col("n_chars") > 100)
    )
    plan = _plan(out)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in plan \
        or "GreaterThan(n_chars,100)" in plan
    # no shuffle, no Python stage — pure codegen expression
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_decontam_probe_is_all_jvm_and_pre_shuffle(spark):
    """Decontamination, native engine: the Bloom probe must be a
    codegen Filter (no Python stage anywhere) sitting on the pruned
    corpus scan BEFORE any exchange — at 100 TB the only rows that may
    shuffle are verified-candidate n-grams."""
    from bloomjoin_spark.operators import contaminated_docs, words_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 29 == 3)
    out, rep = contaminated_docs(
        docs, bench, n=6, corpus_tokens=words_col(F.col("text")),
        return_report=True,
    )
    if rep.engine != "native":
        import pytest

        pytest.skip("native engine unavailable in this JVM")
    # raw plan string: keys stay on the operator lines (formatted mode
    # moves them to a details section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "might_contain" in plan
    # the probe filter must be BELOW the verify join: the corpus-side
    # branch (':- Filter' child of the join) carries the probe
    join_line = next(
        i for i, l in enumerate(plan.splitlines()) if "Join" in l and "__bj_ng" in l
    )
    below = "\n".join(plan.splitlines()[join_line:])
    assert "might_contain" in below
    # the corpus branch has no Exchange between scan and probe filter
    probe_branch = below[below.find("might_contain"):]
    scan_pos = probe_branch.find("Scan parquet")
    assert scan_pos != -1
    assert "Exchange" not in probe_branch[:scan_pos]


def test_top_ngram_frac_single_chain_no_window(spark):
    """top_ngram_frac: explode → two hash aggregates, no Window
    operator (a per-doc window over all grams would re-shuffle and
    sort the full gram stream at scale)."""
    from bloomjoin_spark.operators import top_ngram_frac

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(top_ngram_frac(docs, n=2))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in rs and "source" not in rs


class TestPlanAudit:
    """plan_audit (plans/audit.py): the user-facing instrument for the
    plan contracts the library pins internally."""

    def test_join_pushdown_and_exchange_counts(self, spark):
        from bloomjoin_spark.plans import plan_audit

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        part = spark.read.parquet(f"{SF_DIR}/part.parquet")
        q = (
            li.filter(F.col("l_quantity") > 10)
            .join(part.filter(F.col("p_partkey") % 10 == 0),
                  li.l_partkey == part.p_partkey)
            .groupBy("p_name").agg(F.sum("l_quantity").alias("s"))
        )
        a = plan_audit(q)
        assert a.n_shuffle_exchanges == 1      # the groupBy
        assert a.n_broadcast_exchanges == 1    # small part side
        assert a.joins == {"BroadcastHashJoin": 1}
        assert a.n_row_python_udfs == 0 and a.python_operators == []
        # the quantity filter reached the lineitem scan, and the scan
        # reads only the joined/aggregated columns
        li_scan = next(s for s in a.scans
                       if "l_quantity" in s["read_schema_cols"])
        assert any("GreaterThan(l_quantity" in f
                   for f in li_scan["pushed_filters"])
        assert set(li_scan["read_schema_cols"]) == {"l_partkey", "l_quantity"}

    def test_codegen_spans_after_execution(self, spark):
        from bloomjoin_spark.plans import plan_audit

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        q = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
        q.collect()  # AQE finalizes; fusion markers appear
        assert plan_audit(q).n_codegen_spans >= 1

    def test_detects_python_operators(self, spark):
        import pandas as pd
        from pyspark.sql.types import DoubleType

        from bloomjoin_spark.plans import plan_audit

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

        @F.pandas_udf("double")
        def arrow_sq(s: pd.Series) -> pd.Series:
            return s * s

        assert plan_audit(
            li.select(arrow_sq("l_quantity"))
        ).python_operators == ["ArrowEvalPython"]

        row_udf = F.udf(lambda x: x * 2.0, DoubleType())
        a = plan_audit(li.select(row_udf("l_quantity")))
        assert a.n_row_python_udfs == 1  # the anti-pattern counter

    def test_asof_and_colocated_contracts_via_audit(self, spark):
        from bloomjoin_spark.operators import asof_join
        from bloomjoin_spark.plans import plan_audit

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        st = ev.filter(F.col("event_type") == "error").select(
            "user_id", "ts", "value")
        aj = asof_join(ev.filter(F.col("event_type") != "error"), st,
                       on="user_id", right_cols=["value"])
        a = plan_audit(aj)
        assert a.n_shuffle_exchanges == 1 and a.joins == {}


def test_audit_parses_in_and_compound_pushed_filters(spark):
    """pushed_filters entries must be COMPLETE filter expressions:
    In(c, [a,b]) nests a ']' and Or(...) nests parens — a naive token
    regex used to emit fragment words ('In', 'doc_id', 'A'), making
    any startswith-based CI assertion silently false."""
    from bloomjoin_spark.plans import plan_audit

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(
        F.col("l_returnflag").isin("A", "N") & (F.col("l_quantity") > 10)
    ).select("l_orderkey")
    q.collect()
    pushed = [f for s in plan_audit(q).scans for f in s["pushed_filters"]]
    assert any(f.startswith("In(l_returnflag") and f.endswith("])") for f in pushed)
    assert any(f.startswith("GreaterThan(l_quantity") for f in pushed)
    # no bare fragment words survive the top-level split
    assert all(("(" in f and f.endswith(")")) or f.startswith("IsNotNull") for f in pushed)


def test_grouped_topk_single_blob_exchange(spark):
    """grouped_topk's only shuffle carries the per-(group, partition)
    sketch blobs (docs/PLANS.md §29): exactly ONE Exchange in the plan,
    sitting ABOVE the partial-building Python stage (the scan-side
    stage never shuffles rows), and the scan is pruned to the group +
    item columns."""
    from bloomjoin_spark import grouped_topk

    import re

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(grouped_topk(li, "l_returnflag", k=5, cols=["l_partkey"]))
    # node-detail entries only (the tree summary repeats each name)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    # partial stage (MapInPandas) must appear BELOW the exchange in the
    # operator chain: formatted plans list children first, so the
    # partial's node id is larger than... rather than parse ids, assert
    # the exchange hashes the GROUP column (blob rows), and the scan
    # reads only the two needed columns
    assert "hashpartitioning(l_returnflag" in plan
    assert "ReadSchema" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in read and "l_partkey" in read
    assert "l_orderkey" not in read and "l_quantity" not in read


def test_fd_partial_scan_is_pruned_and_shuffle_free(spark):
    """fd_sketch's partial stage (docs/PLANS.md §30): the embeddings
    scan reads ONLY the vector column and no Exchange exists below the
    partial MapInArrow — building the matrix sketch over a wide table
    is a map-only pass until the KB-scale blob merge."""
    import re

    from bloomjoin_spark.aggregate import sketch_partials
    from bloomjoin_spark.sketches.fd import FrequentDirectionsSketch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    partials = sketch_partials(
        emb, lambda: FrequentDirectionsSketch(ell=16, dim=64),
        cols=["embedding"],
    )
    plan = _plan(partials)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "embedding" in read and "vec_id" not in read and "label" not in read
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan
