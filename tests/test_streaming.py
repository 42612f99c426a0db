"""Streaming: windowed exact aggregation and sketch collection over the
events file stream — streaming answers must equal batch answers."""

import pytest
from pyspark.sql import functions as F

from bloomjoin_spark import HllSketch
from bloomjoin_spark.streaming import (
    StreamingSketchCollector,
    events_stream,
    windowed_counts,
)
from bloomjoin_spark.streaming.sketch_stream import run_stream_to_memory


def test_windowed_counts_match_batch(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    agg = windowed_counts(stream, window="1 hour")
    run_stream_to_memory(agg, "win_counts")
    got = spark.table("win_counts")

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    exp = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "value_sum")
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_bloom_join_stream_equals_batch_join(spark, sf_dir):
    """Stream-static bloom-prefiltered join == plain batch join on the
    same rows, for inner and semi; left is rejected (prefiltering the
    stream side of a row-preserving join would change output)."""
    from bloomjoin_spark.streaming import bloom_join_stream, events_stream

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        batch.filter(F.col("user_id") % 7 == 0)
        .select("user_id").distinct()
        .withColumn("seg", F.lit("u7"))
    )
    for how in ("inner", "semi"):
        stream = events_stream(spark, sf_dir)
        joined = bloom_join_stream(
            stream.select("event_id", "user_id"), dim, on="user_id", how=how
        )
        run_stream_to_memory(joined, f"bj_stream_{how}", output_mode="append")
        got = spark.table(f"bj_stream_{how}")
        exp = batch.select("event_id", "user_id").join(
            dim, "user_id", "inner" if how == "inner" else "left_semi"
        )
        assert got.count() == exp.count()
        assert got.exceptAll(exp).count() == 0

    with pytest.raises(ValueError, match="inner/semi"):
        bloom_join_stream(
            events_stream(spark, sf_dir).select("event_id", "user_id"),
            dim, on="user_id", how="left",
        )


def test_streaming_hll_equals_batch_estimate(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    coll = StreamingSketchCollector(lambda: HllSketch(p=13), cols=["user_id"])
    q = coll.attach(stream).start()
    q.processAllAvailable()
    q.stop()
    sk = coll.sketch()
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = batch.select(F.countDistinct("user_id")).first()[0]
    assert abs(sk.estimate() - exact) / exact <= 4 * sk.rel_std_error
    assert coll.lineage  # per-batch lineage retained
    assert sum(r["n_rows"] for r in coll.lineage) == batch.count()


def test_streaming_grouped_sketches(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    coll = StreamingSketchCollector(
        lambda: HllSketch(p=12), cols=["user_id"], group_col="event_type"
    )
    q = coll.attach(stream).start()
    q.processAllAvailable()
    q.stop()
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_type = {
        r["event_type"]: r["d"]
        for r in batch.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(coll.sketches) == set(per_type)
    for k, exact in per_type.items():
        est = coll.sketch(k).estimate()
        assert abs(est - exact) / max(exact, 1) <= 4 * coll.sketch(k).rel_std_error


def test_stateful_per_key_hll(spark, sf_dir):
    """applyInPandasWithState running HLL per event_type: final stream
    estimates match exact per-key distinct counts within the HLL bound,
    and n_rows accounting is exact."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.sketches import HllSketch
    from bloomjoin_spark.streaming import events_stream
    from bloomjoin_spark.streaming.sketch_stream import (
        run_stream_to_memory,
        stateful_sketch_stream,
    )

    stream = events_stream(spark, sf_dir)
    out = stateful_sketch_stream(
        stream, lambda: HllSketch(14), group_col="event_type", cols=["user_id"]
    )
    name = run_stream_to_memory(out, "q_stateful_hll", output_mode="update")
    # last emitted row per key
    got = {
        r["event_type"]: r
        for r in spark.table(name)
        .orderBy("n_rows")
        .collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["event_type"]: (r["d"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bound = 4 * HllSketch(14).rel_std_error
    for k, (d, n) in exact.items():
        row = got[k]
        assert row["n_rows"] == n
        assert abs(row["estimate"] - d) / max(d, 1) <= bound


def test_grouped_partials_one_pass_matches_per_key(spark):
    """grouped_sketch_partials (one scan for all keys) merges to the
    same estimates as building each key's sketch separately."""
    from bloomjoin_spark.aggregate import build_sketch, grouped_sketch_partials
    from bloomjoin_spark.sketches import HllSketch
    from bloomjoin_spark.sketches.base import Sketch
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(f"k{i % 3}", i % 500) for i in range(6_000)], "g string, v long"
    ).repartition(4)
    rows = grouped_sketch_partials(
        df, lambda: HllSketch(12), "g", cols=["v"]
    ).collect()
    merged: dict = {}
    for r in rows:
        sk = Sketch.from_bytes(bytes(r["blob"]))
        merged["" + r["g"]] = merged[r["g"]].merge(sk) if r["g"] in merged else sk
    assert set(merged) == {"k0", "k1", "k2"}
    for key in merged:
        solo = build_sketch(
            df.filter(F.col("g") == key), lambda: HllSketch(12), cols=["v"]
        )
        assert merged[key].estimate() == solo.sketch.estimate()


def test_decontaminate_stream_matches_batch(spark, sf_dir):
    """Streaming decontam (per-row hash-set probe) must flag exactly
    the docs the batch operator flags on the same corpus/benchmark."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.operators import contaminated_docs, words_col
    from bloomjoin_spark.streaming import decontaminate_stream, documents_stream
    from bloomjoin_spark.streaming.sketch_stream import run_stream_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 29 == 3)
    expected = {
        r["doc_id"]
        for r in contaminated_docs(
            docs, bench, n=6, corpus_tokens=words_col(F.col("text"))
        ).collect()
    }
    flagged_stream = decontaminate_stream(
        documents_stream(spark, sf_dir),
        bench,
        n=6,
        tokens=words_col(F.col("text")),
        mode="flag",
    )
    name = run_stream_to_memory(
        flagged_stream.select("doc_id", "contaminated"),
        "q_decontam_stream",
        output_mode="append",
    )
    rows = spark.table(name).collect()
    got = {r["doc_id"] for r in rows if r["contaminated"]}
    assert got == expected
    assert len(rows) == docs.count()  # flag mode keeps every row


def test_decontaminate_stream_drop_mode_and_empty_bench(spark, sf_dir):
    from pyspark.sql import Row, functions as F

    from bloomjoin_spark.streaming import decontaminate_stream

    # batch DataFrames are accepted too (the probe is stateless)
    corpus = spark.createDataFrame(
        [Row(doc_id=0, tokens=[1, 2, 3, 4]), Row(doc_id=1, tokens=[9, 9, 9, 9])],
        "doc_id bigint, tokens array<int>",
    )
    bench = spark.createDataFrame(
        [Row(tokens=[2, 3, 4])], "tokens array<int>"
    )
    kept = decontaminate_stream(corpus, bench, n=3)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    # empty benchmark: nothing dropped
    none = spark.createDataFrame([], "tokens array<int>")
    assert decontaminate_stream(corpus, none, n=3).count() == 2


def test_decontaminate_stream_validates_mode(spark):
    from pyspark.sql import Row

    from bloomjoin_spark.streaming import decontaminate_stream

    df = spark.createDataFrame([Row(tokens=[1])], "tokens array<int>")
    import pytest

    with pytest.raises(ValueError):
        decontaminate_stream(df, df, mode="bogus")


def test_dedup_stream_keeps_one_per_fingerprint(spark, sf_dir):
    """Streaming exact dedup must agree with the batch exact_dedup
    notion of duplicate: one survivor per canonical content
    fingerprint, across micro-batches."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.streaming import dedup_stream, documents_stream
    from bloomjoin_spark.streaming.sketch_stream import run_stream_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_distinct = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp")).distinct().count()
    )
    deduped = dedup_stream(documents_stream(spark, sf_dir))
    name = run_stream_to_memory(
        deduped.select("doc_id", "content_fp"), "q_dedup_stream",
        output_mode="append",
    )
    out = spark.table(name)
    assert out.count() == n_distinct
    assert out.select("content_fp").distinct().count() == n_distinct


def test_dedup_stream_validates_watermark_pairing(spark):
    from pyspark.sql import Row

    from bloomjoin_spark.streaming import dedup_stream

    df = spark.createDataFrame([Row(text="x")], "text string")
    with pytest.raises(ValueError):
        dedup_stream(df, watermark="1 hour")


def test_stream_source_path_with_glob_metachars(spark, sf_dir, tmp_path):
    """Round-5 review: an sf_dir containing glob metacharacters
    (``/data/run[2]/sf1``) must stream the right file — the directory
    part is backslash-escaped so only our trailing ``[t]`` stays a
    live glob."""
    import shutil

    from bloomjoin_spark.streaming.sketch_stream import _single_file_glob

    weird = tmp_path / "run[2]" / "sf{a}"
    weird.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", weird / "events.parquet")

    glob_path = _single_file_glob(str(weird), "events")
    assert "\\[2\\]" in glob_path and "\\{a\\}" in glob_path
    assert glob_path.endswith("events.parque[t]")

    stream = events_stream(spark, str(weird))
    agg = windowed_counts(stream, window="1 hour")
    run_stream_to_memory(agg, "glob_meta_counts")
    got_n = spark.table("glob_meta_counts").agg(F.sum("n")).first()[0]
    exp_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got_n == exp_n


def test_incremental_dedup_stream_drops_history_and_within_dups(spark, sf_dir):
    """Streaming incremental dedup must agree with the batch operator:
    history content never survives, within-stream dups keep one."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.streaming import documents_stream, incremental_dedup_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 10 != 0)
    from bloomjoin_spark.streaming.sketch_stream import run_stream_to_memory

    out_df = incremental_dedup_stream(
        documents_stream(spark, sf_dir), history=history
    )
    name = run_stream_to_memory(
        out_df.select("doc_id", "content_fp"), "q_incr_dedup_stream",
        output_mode="append",
    )
    out = spark.table(name)
    # survivors are exactly the batch-new fingerprints (the % 10 == 0
    # docs whose content is not in history)
    hfp = history.select(F.md5(F.lower(F.trim("text"))).alias("fp")).distinct()
    expected = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .distinct()
        .join(hfp, "fp", "left_anti")
        .count()
    )
    assert out.count() == expected
    # nothing that was in history survives
    got_fps = out.select(F.col("content_fp").alias("fp")).distinct()
    assert got_fps.join(hfp, "fp", "left_semi").count() == 0


def test_incremental_dedup_stream_filter_only_and_validation(spark, sf_dir):
    from pyspark.sql import functions as F

    from bloomjoin_spark.operators import build_history_filter
    from bloomjoin_spark.streaming import documents_stream, incremental_dedup_stream
    from bloomjoin_spark.streaming.sketch_stream import run_stream_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 10 != 0)
    # an n_hint well above the history size keeps the filter sparse
    bf = build_history_filter(history, n_hint=10_000)
    assert bf._sparse is not None
    out_df = incremental_dedup_stream(
        documents_stream(spark, sf_dir), history_filter=bf
    )
    # sealed before the broadcast: workers get the bitmap, not a hash
    # list each one re-densifies
    assert bf._sparse is None
    name = run_stream_to_memory(
        out_df.select("doc_id"), "q_incr_dedup_stream_fo", output_mode="append"
    )
    # filter-only mode: every true history dup is dropped (no false
    # negatives); survivors <= exact-new count (fpp may drop extras)
    hfp = history.select(F.md5(F.lower(F.trim("text"))).alias("fp")).distinct()
    exact_new = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp")).distinct()
        .join(hfp, "fp", "left_anti").count()
    )
    assert spark.table(name).count() <= exact_new
    import pytest as _pytest

    with _pytest.raises(ValueError, match="history"):
        incremental_dedup_stream(documents_stream(spark, sf_dir))


def test_session_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming sessionization == batch sessionize, including session
    MERGES across micro-batch boundaries: the input is split into 3
    time-interleaved files streamed one per trigger, so most sessions
    arrive in pieces the state store must merge.  The watermark is
    wider than the data's 30-day span, so no row arrives behind it and
    the file order cannot change the result."""
    from bloomjoin_spark.operators import session_stats
    from bloomjoin_spark.streaming import session_counts

    # watermarks require TIMESTAMP (LTZ): the parquet carries NTZ, so
    # stamp the stream schema the same way events_stream does
    batch = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "ev_split")
    # interleave by event_id so each file spans the full time range →
    # every micro-batch touches almost every open session; one file per
    # part, written in a fixed order
    for part in range(3):
        batch.where(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    exp = session_stats(batch, "user_id", "ts", gap_sec=1800.0).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = session_counts(stream, gap="30 minutes", watermark="60 days")
    run_stream_to_memory(agg, "sess_counts")
    got = spark.table("sess_counts")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_topk_stream_matches_batch(spark, sf_dir):
    """Per-key running heavy hitters: after the whole stream, each
    key's emitted top-k equals batch grouped_topk over the same rows
    (capacity covers the per-type distinct user domain → exact)."""
    from bloomjoin_spark import grouped_topk
    from bloomjoin_spark.streaming import events_stream, topk_stream

    stream = events_stream(spark, sf_dir)
    out = topk_stream(
        stream, "event_type", k=5, capacity=8192, cols=["user_id"]
    )
    name = run_stream_to_memory(out, "q_topk_stream", output_mode="update")
    # keep each key's LAST emission (largest count_est per rank)
    emitted = spark.table(name)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "rank").orderBy(
        F.col("count_est").desc()
    )
    last = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    exp = grouped_topk(
        batch, "event_type", k=5, capacity=8192, cols=["user_id"]
    )
    g = {
        (r["event_type"], r["item"], r["count_est"], r["error"], r["rank"])
        for r in last.collect()
    }
    e = {
        (r["event_type"], r["item"], r["count_est"], r["error"], r["rank"])
        for r in exp.collect()
    }
    assert g == e
    assert all(t[3] == 0 for t in g)  # exact mode


def test_topk_stream_weighted(spark, sf_dir):
    """weight_col over a stream: top doc ids by n_chars per source
    equal the exact batch groupBy-sum + rank."""
    from pyspark.sql import Window

    from bloomjoin_spark.streaming import topk_stream
    from bloomjoin_spark.streaming.sketch_stream import documents_stream

    stream = documents_stream(spark, sf_dir)
    out = topk_stream(
        stream, "source", k=3, capacity=8192,
        cols=["doc_id"], weight_col="n_chars",
    )
    name = run_stream_to_memory(out, "q_topk_stream_w", output_mode="update")
    w = Window.partitionBy("source", "rank").orderBy(F.col("count_est").desc())
    last = (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cnt = docs.groupBy("source", "doc_id").agg(F.sum("n_chars").alias("c"))
    win = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("doc_id").asc()
    )
    exp = cnt.withColumn("rank", F.row_number().over(win)).filter("rank <= 3")
    g = {(r["source"], r["item"], r["count_est"], r["rank"]) for r in last.collect()}
    e = {(r["source"], r["doc_id"], r["c"], r["rank"]) for r in exp.collect()}
    assert g == e


def test_topk_stream_validation(spark, sf_dir):
    from bloomjoin_spark.streaming import events_stream, topk_stream

    stream = events_stream(spark, sf_dir)
    with pytest.raises(ValueError, match="k must be"):
        topk_stream(stream, "event_type", k=0, cols=["user_id"])
    with pytest.raises(ValueError, match="capacity"):
        topk_stream(stream, "event_type", k=10, capacity=2, cols=["user_id"])
    with pytest.raises(ValueError, match="weight_col"):
        topk_stream(stream, "event_type", k=3, token_col="user_id",
                    weight_col="value")


def test_topk_stream_multi_trigger_running_state(spark, tmp_path):
    """State survives across triggers: two files arrive as two
    micro-batches (maxFilesPerTrigger=1) and the final emission equals
    batch grouped_topk over BOTH files — planted so final counts are
    unique (no tie ambiguity in picking the last emission)."""
    from bloomjoin_spark import grouped_topk
    from bloomjoin_spark.streaming import topk_stream

    b1 = [("a", 1)] * 5 + [("a", 2)] * 3 + [("b", 7)] * 4
    b2 = [("a", 1)] * 2 + [("a", 3)] * 9 + [("b", 8)] * 6
    spark.createDataFrame(b1, "grp string, item_val long").coalesce(1) \
        .write.parquet(str(tmp_path / "in" / "f1"))
    spark.createDataFrame(b2, "grp string, item_val long").coalesce(1) \
        .write.parquet(str(tmp_path / "in" / "f2"))
    import glob as _glob
    import shutil

    src = str(tmp_path / "stream")
    (tmp_path / "stream").mkdir()
    for i, f in enumerate(sorted(_glob.glob(str(tmp_path / "in" / "*" / "*.parquet")))):
        shutil.copy(f, f"{src}/batch{i}.parquet")
    stream = (
        spark.readStream.schema("grp string, item_val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = topk_stream(stream, "grp", k=3, capacity=64, cols=["item_val"])
    name = run_stream_to_memory(out, "q_topk_stream_mt", output_mode="update")
    emitted = spark.table(name).collect()
    # final emission per key = rows whose per-key total is the max seen
    batch = spark.read.parquet(src)
    exp = {
        (r["grp"], r["item"], r["count_est"], r["rank"])
        for r in grouped_topk(batch, "grp", k=3, capacity=64,
                              cols=["item_val"]).collect()
    }
    # counts only grow across triggers, and planted finals are unique:
    # keep the max count_est per (key, item), then rank by it
    best: dict = {}
    for r in emitted:
        kk = (r["grp"], r["item"])
        if kk not in best or r["count_est"] > best[kk]:
            best[kk] = r["count_est"]
    import itertools

    got = set()
    for g, rows in itertools.groupby(
        sorted(best.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1])),
        key=lambda kv: kv[0][0],
    ):
        for rank, ((_, item), c) in enumerate(list(rows)[:3], 1):
            got.add((g, item, c, rank))
    assert got == exp


def test_stateful_stream_values_lane_tdigest(spark, sf_dir):
    """The values lane works through streaming state: per-event-type
    running median from a t-digest equals the batch build's median."""
    import numpy as np

    from bloomjoin_spark import TDigestSketch, build_sketch
    from bloomjoin_spark.streaming import events_stream
    from bloomjoin_spark.streaming.sketch_stream import (
        run_stream_to_memory,
        stateful_sketch_stream,
    )

    stream = events_stream(spark, sf_dir)
    out = stateful_sketch_stream(
        stream, lambda: TDigestSketch(), group_col="event_type",
        cols=["value"], extract=lambda s: s.quantile(0.5),
    )
    name = run_stream_to_memory(out, "q_stateful_td", output_mode="update")
    got = {
        r["event_type"]: r["estimate"]
        for r in spark.table(name).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for et in got:
        batch = build_sketch(
            ev.filter(F.col("event_type") == et),
            lambda: TDigestSketch(), cols=["value"],
        ).sketch
        exact = np.median(
            np.array([r["value"] for r in
                      ev.filter(F.col("event_type") == et).select("value").collect()],
                     dtype=float)
        )
        # stream == batch within a whisker; both within t-digest error of exact
        assert abs(got[et] - batch.quantile(0.5)) <= max(0.05 * max(abs(exact), 1e-9), 1e-6) \
            or abs(got[et] - exact) <= 0.1 * max(abs(exact), 1e-9)


def test_stateful_stream_vectors_lane_fd(spark, sf_dir):
    """The vectors lane works through streaming state: per-label running
    FD retained mass equals the exact per-label sum of squares (exact
    mode), i.e. streaming drift state == batch state."""
    import numpy as np

    from bloomjoin_spark import FrequentDirectionsSketch
    from bloomjoin_spark.streaming.sketch_stream import (
        run_stream_to_memory,
        stateful_sketch_stream,
    )

    from bloomjoin_spark.streaming.sketch_stream import _single_file_glob

    schema = "vec_id bigint, embedding array<float>, label int"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_single_file_glob(sf_dir, "embeddings"))
    )
    out = stateful_sketch_stream(
        stream.withColumn("label_s", F.col("label").cast("string")),
        lambda: FrequentDirectionsSketch(ell=512, dim=64),
        group_col="label_s", cols=["embedding"],
        extract=lambda s: float(np.trace(s.gram())),
    )
    name = run_stream_to_memory(out, "q_stateful_fd", output_mode="update")
    got = {int(r["label_s"]): r["estimate"] for r in spark.table(name).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = emb.select(
        "label",
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x),
            F.lit(0.0), lambda a, x: a + x,
        ).alias("m"),
    ).groupBy("label").agg(F.sum("m").alias("mass")).collect()
    assert set(got) == {r["label"] for r in exact}
    for r in exact:
        assert abs(got[r["label"]] - r["mass"]) <= 1e-9 * max(r["mass"], 1)


def test_topk_stream_non_string_group_key(spark, tmp_path):
    """Regression: the state operators emit the group column in its
    REAL dtype — an int group key round-trips topk_stream exactly as
    batch grouped_topk emits it (previously the schema hardcoded
    string)."""
    from bloomjoin_spark import grouped_topk
    from bloomjoin_spark.streaming import topk_stream

    rows = [(1, 10)] * 4 + [(1, 20)] * 2 + [(2, 30)] * 3 + [(2, 40)]
    src = str(tmp_path / "ints")
    spark.createDataFrame(rows, "grp int, item_val long").coalesce(1) \
        .write.parquet(src)
    stream = (
        spark.readStream.schema("grp int, item_val long")
        .option("maxFilesPerTrigger", 10)
        .parquet(src)
    )
    out = topk_stream(stream, "grp", k=2, capacity=16, cols=["item_val"])
    name = run_stream_to_memory(out, "q_topk_int_grp", output_mode="update")
    emitted = spark.table(name)
    assert dict(emitted.dtypes)["grp"] == "int"
    got = {(r["grp"], r["item"], r["count_est"], r["rank"])
           for r in emitted.collect()}
    exp = {(r["grp"], r["item"], r["count_est"], r["rank"])
           for r in grouped_topk(spark.createDataFrame(rows, "grp int, item_val long"),
                                 "grp", k=2, capacity=16, cols=["item_val"]).collect()}
    assert got == exp


def test_stateful_stream_boolean_key_with_nulls_matches_batch(spark, tmp_path):
    """A boolean key column that holds a null in one micro-batch and none
    in the other: the running HLL per group equals the batch grouped
    build over both files, and each key counts once."""
    from bloomjoin_spark import grouped_sketch_estimates
    from bloomjoin_spark.streaming.sketch_stream import stateful_sketch_stream

    schema = "grp string, flag boolean"
    src = tmp_path / "stream"
    files = [[("a", True), ("a", False), ("b", True)],
             [("a", True), ("a", None), ("b", None), ("b", True)]]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp_path / f"f{i}"))
        (part,) = (tmp_path / f"f{i}").glob("*.parquet")
        src.mkdir(exist_ok=True)
        part.rename(src / f"batch{i}.parquet")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    out = stateful_sketch_stream(stream, lambda: HllSketch(12), "grp", cols=["flag"])
    name = run_stream_to_memory(out, "q_stateful_bool", output_mode="update")
    last = {r["grp"]: r for r in spark.table(name).orderBy("n_rows").collect()}
    batch = grouped_sketch_estimates(
        spark.read.parquet(str(src)), lambda: HllSketch(12), "grp", cols=["flag"]
    )
    exp = {r["grp"]: (r["estimate"], r["n_rows"]) for r in batch.collect()}
    assert {k: (r["estimate"], r["n_rows"]) for k, r in last.items()} == exp
    assert {k: round(e) for k, (e, _) in exp.items()} == {"a": 2, "b": 1}
