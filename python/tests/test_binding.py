"""Pytest suite for the Python binding: drives the Scala engine through
graft.python.PyApi and checks results against hand-computed expectations
(mirrors /root/reference/python/tests/ts/flint/test_dataframe_api.py's
style: tiny inline datasets, exact asserts).

Run from the repo root after `sbt compile`:

    python3 -m pytest python/tests -q
"""

import pytest

from graft import TimeSeriesDataFrame, summarizers, clocks, multimodal


# ---------------------------------------------------------- canonize + ops

def test_canonize_renames_and_fronts_time(ts):
    assert ts.columns[0] == "time"


def test_between_is_half_open(ts):
    assert ts.between(10, 30).count() == 2


def test_keep_columns_retains_time(ts):
    assert ts.keep_columns("v").columns == ["time", "v"]


def test_shift_moves_time(ts):
    assert ts.shift("5ns").select("time").rdd.map(lambda r: r[0]).min() == 15


def test_from_df_unsorted_range_sorts(spark):
    df = spark.createDataFrame(
        [(10, "a", 1.0), (30, "a", 3.0), (20, "b", 2.0)],
        "t long, k string, v double")
    sorted_ts = TimeSeriesDataFrame.from_df(df, time_column="t",
                                            is_sorted=False)
    assert [r[0] for r in sorted_ts.select("time").collect()] == [10, 20, 30]


def test_from_df_sorted_trusts_order(spark):
    trusted = TimeSeriesDataFrame.from_df(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "t long, v double"),
        time_column="t", is_sorted=True)
    plan = trusted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------------------ joins

def test_left_join_within_tolerance(spark):
    left = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(10, "a", 1)], "time long, k string, lv int"))
    right = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(8, "a", 5), (9, "b", 6)], "time long, k string, rv int"))
    j = left.left_join(right, tolerance="5ns", key=["k"]).collect()
    assert len(j) == 1 and j[0]["rv"] == 5


def test_symmetric_join_row_per_input(spark):
    left = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(10, "a", 1)], "time long, k string, lv int"))
    right = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(8, "a", 5), (9, "b", 6)], "time long, k string, rv int"))
    sj = left.symmetric_join(right, tolerance="5ns", key=["k"])
    assert sj.count() == 3


# ------------------------------------------------------------- summarize

def test_summarize_sum_count_per_key(ts):
    s = summarizers.sum("v") + summarizers.count()
    agg = ts.summarize(s, key=["k"]).orderBy("k").collect()
    assert [(r["k"], r["v_sum"], r["count"]) for r in agg] == \
        [("a", 4.0, 2), ("b", 2.0, 1)]


def test_summarize_windows_past(ts):
    w = ts.summarize_windows(summarizers.sum("v"), past="10ns").orderBy("time")
    assert [r["v_sum"] for r in w.collect()] == [1.0, 3.0, 5.0]


def test_quantile_median(ts):
    q = ts.summarize(summarizers.quantile("v", [0.5]))
    assert q.collect()[0][1] == 2.0


def test_stack_evaluates_both_branches(ts):
    stacked = ts.summarize(summarizers.stack(
        summarizers.sum("v").where("v <= 1.0"),
        summarizers.sum("v").where("v > 1.0")))
    row = stacked.collect()[0]["stack"]
    assert row[0]["v_sum"] == 1.0 and row[1]["v_sum"] == 5.0


# ------------------------------------------------------------------ EMA

DAY = 86400 * 10**9


@pytest.fixture(scope="module")
def ema_df(spark):
    return TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, "k", 1.0), (DAY, "k", 2.0), (2 * DAY, "k", 3.0)],
        "time long, k string, v double"))


def test_ewma_legacy_recursion(ema_df):
    ew = ema_df.ewma("v", key=["k"], alpha=0.5,
                     duration_per_period="constant",
                     convention="legacy").collect()
    assert abs(ew[0]["v_ewma"] - 4.25) < 1e-12


def test_per_row_ewma_running_values(ema_df):
    ewr = ema_df.ewma("v", key=["k"], alpha=0.5,
                      duration_per_period="constant", convention="legacy",
                      per_row=True).orderBy("time").collect()
    assert [r["v_ewma"] for r in ewr] == [1.0, 2.5, 4.25]


# ---------------------------------------------------------------- clocks

def test_uniform_clock_ticks(spark):
    assert clocks.uniform(spark, 0, 10, "2ns").count() == 6


# ------------------------------------------------------------- LLM ops

def test_exact_dedup_groups_normalized(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(1, 1, "a b c"), (2, 2, "b a c"), (3, 3, "x y z")],
        "time long, doc_id long, text string"), time_column="time")
    dd = docs.exact_dedup("doc_id", "text").orderBy("keep_id").collect()
    assert [(r["keep_id"], r["n_dupes"]) for r in dd] == [(1, 2), (3, 1)]


# ------------------------------------------------------ cycle pandas UDF

def test_add_columns_for_cycle_raw_callable(spark):
    cyc = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 3.0), (2, "a", 5.0)],
        "time long, k string, v double"))

    def cycle_share(pdf):
        pdf = pdf.copy()
        pdf["share"] = pdf["v"] / pdf["v"].sum()
        return pdf

    shares = cyc.add_columns_for_cycle(
        cycle_share, "time long, k string, v double, share double", key=["k"])
    assert sorted(r["share"] for r in shares.collect()) == [0.25, 0.75, 1.0]


# ---------------------------------------------------------- similarity

def test_cosine_dup_pairs_and_ivf_topk(spark):
    vecs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 1, [1.0, 0.001]), (2, 2, [0.0, 1.0])],
        "time long, vec_id long, embedding array<float>"))
    cents = [[1.0, 0.0], [0.0, 1.0]]
    dups = vecs.cosine_dup_pairs("vec_id", "embedding", cents, 0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in dups] == [(0, 1)]
    ivf = vecs.ivf_topk(vecs.where("vec_id = 0"), "vec_id", "embedding",
                        cents, k=2, nprobe=2).orderBy("rank").collect()
    assert [r["n_id"] for r in ivf] == [1, 2]


# ----------------------------------------------------- summarizer state

def test_state_of_exposes_base_sums(ts):
    st = ts.summarize(summarizers.state_of(summarizers.variance("v"))).collect()[0]
    # first-use order: n, Σv, Σv²
    assert st["state_0"] == 3 and st["state_1"] == 6.0 and st["state_2"] == 14.0


def test_ols_state_gram_buffer(spark):
    df = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(i, float(i), 1.0 + 2.0 * i) for i in range(5)],
        "time long, x double, y double"))
    st = df.summarize(summarizers.ols_state("y", ["x"])).collect()[0]
    g00, g01, g11 = st["ols_state_g_0_0"], st["ols_state_g_0_1"], st["ols_state_g_1_1"]
    b0, b1 = st["ols_state_b_0"], st["ols_state_b_1"]
    det = g00 * g11 - g01 * g01
    assert abs((g11 * b0 - g01 * b1) / det - 1.0) < 1e-9   # intercept
    assert abs((g00 * b1 - g01 * b0) / det - 2.0) < 1e-9   # slope


# -------------------------------------------------------------- sampling

def test_deterministic_sampling(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(i, i, "s%d" % (i % 2)) for i in range(200)],
        "time long, doc_id long, src string"))
    a = sorted(r["doc_id"] for r in docs.sample_by_hash("doc_id", 0.3).collect())
    b = sorted(r["doc_id"] for r in docs.sample_by_hash("doc_id", 0.3).collect())
    assert a == b and 20 < len(a) < 100
    mix = docs.sample_by_rates("src", "doc_id", {"s0": 1.0}, default_rate=0.0)
    assert sorted(set(r["src"] for r in mix.collect())) == ["s0"]
    q = docs.quota_per_stratum(["src"], "doc_id", 5)
    assert q.count() == 10
    packed = docs.pack_sequences("doc_id", "doc_id", budget=50, num_buckets=2)
    assert set(packed.columns) >= {"pack_bucket", "pack_id", "pack_offset"}
    assert packed.count() == 200


# ---------------------------------------------------------- streaming API

def test_summarize_tumbling_on_batch_frame(ts):
    tw = ts.summarize_tumbling(summarizers.sum("v"), "1 minute", key=["k"])
    assert {(r["window_start"], r["k"]): r["v_sum"] for r in tw.collect()} \
        == {(0, "a"): 4.0, (0, "b"): 2.0}


# ------------------------------------------------- multimodal mapInPandas

def test_multimodal_decode_features_frames(spark):
    import struct
    # real headers: PNG dims are BE32 at 16/20, BMP signed LE32 at 18/22
    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + struct.pack(">II", 320, 200) + b"\x00" * 276)  # 300 bytes
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 4
    mm = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(bmp)), (3, bytearray(b"y" * 10))],
        "doc_id long, payload binary")
    meta = multimodal.decode(mm).orderBy("doc_id").collect()
    assert meta[0]["n_bytes"] == 300 and meta[0]["format"] == "png"
    assert (meta[0]["width"], meta[0]["height"]) == (320, 200)
    # negative BMP height = top-down bitmap, passed through signed
    assert (meta[1]["format"], meta[1]["width"], meta[1]["height"]) == \
        ("bmp", 640, -480)
    # unparseable bytes: detected as unknown, never fabricated dims
    assert meta[2]["format"] == "unknown" and meta[2]["width"] is None
    feats = multimodal.extract_features(mm, dim=8).collect()
    assert all(len(r["feature"]) == 8 for r in feats)
    frames = multimodal.sample_frames(mm, every_n_bytes=128).collect()
    assert sorted(r["frame_idx"] for r in frames
                  if r["doc_id"] == 1) == [0, 1, 2]


# ------------------------------------------------------ arrow summarizer

def test_arrow_summarizer_pyarrow_readable(ts):
    ipc = pytest.importorskip("pyarrow.ipc")
    arr = ts.summarize_cycles(summarizers.arrow(["v"]), key=["k"])
    first = arr.orderBy("time", "k").collect()[0]
    tbl = ipc.open_stream(bytes(first["arrow_bytes"])).read_all()
    assert tbl.schema.names == ["v"] and tbl.num_rows >= 1


# ------------------------------------------------- portable simhash pairs

def test_portable_simhash_pairs(spark):
    sh_docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "a b c d e f"), (0, 2, "a b c d e f"),
         (0, 3, "q r s t u v")],
        "time long, doc_id long, text string"))
    sh = sh_docs.simhash_pairs("doc_id", "text", max_hamming=0, portable=True)
    assert [(r["id_a"], r["id_b"]) for r in sh.collect()] == [(1, 2)]


def test_simhash_bucket_audit(spark):
    # 5 sketch-identical docs, cap 3: each of the 4 bands holds one
    # over-cap bucket dropping 2 ids; with the cap raised the audit is
    # all-clear, certifying capped == uncapped on this corpus.
    hot = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, i, "same tokens every doc") for i in range(1, 6)],
        "time long, doc_id long, text string"))
    audit = hot.simhash_bucket_audit(
        "doc_id", "text", max_bucket_size=3, portable=True) \
        .orderBy("band").collect()
    assert [r["band"] for r in audit] == [0, 1, 2, 3]
    assert all(r["n_truncated_buckets"] == 1 and r["n_dropped_ids"] == 2
               for r in audit)
    clear = hot.simhash_bucket_audit(
        "doc_id", "text", max_bucket_size=64, portable=True).collect()
    assert all(r["n_truncated_buckets"] == 0 and r["n_dropped_ids"] == 0
               for r in clear)


# ------------------------------------------- corpus quality / pii / shuffle

def test_hard_filter_and_pii(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "the quick brown fox and the lazy dog " * 3),
         (0, 2, "mail me at bob@ex.org from 10.0.0.1 or +1 555 0100 ok")],
        "time long, doc_id long, text string"))
    hf = docs.hard_filter("text", min_words=5).orderBy("doc_id").collect()
    assert hf[0]["keep"] is True and hf[0]["stop_ok"] is True
    counted = docs.pii_counts("text").orderBy("doc_id").collect()
    assert (counted[1]["n_emails"], counted[1]["n_ips"],
            counted[1]["n_phones"]) == (1, 1, 1)
    red = docs.pii_redact("text").orderBy("doc_id").collect()
    assert red[1]["text"] == "mail me at <EMAIL> from <IP> or <PHONE> ok"


def test_gopher_filter(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "the quick brown fox and that lazy dog with style " * 6),
         (0, 2, "too short")],
        "time long, doc_id long, text string"))
    gf = docs.gopher_filter("text").orderBy("doc_id").collect()
    assert gf[0]["words_ok"] is True and gf[0]["alpha_ok"] is True
    assert gf[0]["stop_ok"] is True and gf[0]["keep"] is True
    assert gf[1]["words_ok"] is False and gf[1]["keep"] is False


def test_c4_clean_and_token_entropy(spark):
    page = ("visit menu login cart\n"
            "This content line has plenty of words in it.\n"
            "Please enable javascript to view this site.\n"
            "It reads well. It ends here too.")
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, page), (0, 2, "lorem ipsum fills this page entirely here.")],
        "time long, doc_id long, text string"))
    c4 = docs.c4_clean("doc_id", "text").orderBy("doc_id").collect()
    assert c4[0]["text"] == ("This content line has plenty of words in it.\n"
                             "It reads well. It ends here too.")
    assert c4[0]["n_lines"] == 4 and c4[0]["n_kept"] == 2
    assert c4[0]["n_sent"] == 3 and c4[0]["keep"] is True
    assert c4[1]["lorem_ok"] is False and c4[1]["keep"] is False
    ent = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "a a b")], "time long, doc_id long, text string")) \
        .token_entropy("doc_id", "text").collect()
    assert ent[0]["n_tokens"] == 3 and ent[0]["n_distinct"] == 2
    assert ent[0]["ent_micro"] > 0
    # single repeated token -> zero entropy
    uni = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 9, "same same same")], "time long, doc_id long, text string"))
    assert uni.token_entropy("doc_id", "text").collect()[0]["ent_micro"] == 0


def test_pmi_top_pairs(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "new york a b a"), (0, 2, "b new york a b"),
         (0, 3, "a b new york b a"), (0, 4, "new york b a a b")],
        "time long, doc_id long, text string"))
    top = docs.pmi_top_pairs("text", k=3, min_count=2).collect()
    assert top[0]["pair"] == "new york" and top[0]["n_pair"] == 4
    assert top[0]["pmi_micro"] > 0
    assert len(top) == 3


def test_minhash_edit_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(1, 41))
    near = base.replace("tok7", "tokX")
    other = " ".join(f"other{i}" for i in range(1, 41))
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, base), (0, 2, near), (0, 3, other)],
        "time long, doc_id long, text string"))
    pairs = docs.minhash_edit_pairs(
        "doc_id", "text", num_hashes=64, bands=16, shingle_size=3,
        jaccard_floor=0.5, edit_sim=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["dist"] == 1
    assert pairs[0]["edit_sim"] == 1.0 - 1.0 / len(base)


def test_dedup_against(spark):
    existing = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 10, "alpha beta gamma delta epsilon zeta eta theta")],
        "time long, doc_id long, text string"))
    incoming = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "alpha beta gamma delta epsilon zeta eta theta"),
         (0, 2, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (0, 3, "completely different fresh words appear right here")],
        "time long, doc_id long, text string"))
    exact = incoming.dedup_against_exact(existing, "text")
    assert sorted(r["doc_id"] for r in exact.collect()) == [2, 3]
    near = incoming.dedup_against_minhash(existing, "doc_id", "text")
    assert sorted(r["doc_id"] for r in near.collect()) == [3]


def test_minhash_bucket_audit_and_strict(spark):
    hot = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, i, " ".join("hot%d" % j for j in range(30)))
         for i in range(1, 6)], "time long, doc_id long, text string"))
    audit = hot.min_hash_bucket_audit(
        "doc_id", "text", num_hashes=16, bands=4, max_bucket_size=3) \
        .orderBy("band").collect()
    # 5 identical docs, cap 3: every band has one bucket of 5 -> 2 dropped
    assert [r["band"] for r in audit] == [0, 1, 2, 3]
    assert all(r["n_truncated_buckets"] == 1 and r["n_dropped_ids"] == 2
               for r in audit)
    import pytest
    with pytest.raises(Exception, match="maxBucketSize"):
        hot.minhash_dedup_pairs("doc_id", "text", num_hashes=16, bands=4,
                                max_bucket_size=3, strict=True).collect()


def test_quality_buckets_computed(spark):
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "s", "x"), (2, "s", "xxxx"), (3, "s", "xxxxxxxxx")],
        "id long, src string, text string"))
    for eager in (False, True):
        out = {r["id"]: r["bucket"] for r in docs.quality_buckets_computed(
            "src", "length(text)", ["id", "src"], eager=eager).collect()}
        assert out == {1: "tail", 2: "middle", 3: "head"}


def test_markup_and_encoding_columns(spark):
    from graft import text
    docs = spark.createDataFrame(
        [(1, "<p>hello <b>world</b></p><script>x()</script>&amp; done"),
         (2, "plain")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        text.strip_markup("text").alias("clean"),
        text.encoding_stats("text").alias("enc"),
        text.encoding_keep("text").alias("keep"),
        text.gopher_stats("text").alias("g")).collect()}
    assert rows[1]["clean"] == "hello world & done"
    assert rows[2]["enc"]["n_chars"] == 5
    assert rows[2]["enc"]["n_control"] == 0
    assert rows[1]["keep"] is True
    assert rows[2]["g"]["n_words"] == 1
    from pyspark.sql import functions as SF
    norm = docs.select(
        text.normalize_for_dedup(SF.lit("Hello, World! 123")).alias("n")
    ).head()["n"]
    assert norm == "hello world 000"


def test_shuffle_positions_permutation(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, i) for i in range(100)], "time long, doc_id long"))
    out = docs.shuffle_positions("doc_id").collect()
    assert sorted(r["shuffle_pos"] for r in out) == list(range(100))
    by_pos = [r["doc_id"] for r in sorted(out, key=lambda r: r["shuffle_pos"])]
    assert by_pos != sorted(by_pos)  # actually permuted


def test_distinct_count_summarizers(ts):
    out = ts.summarize(summarizers.distinct_count("k")
                       + summarizers.approx_distinct_count("k")).collect()[0]
    assert out["k_distinctCount"] == 2
    assert out["k_approxDistinctCount"] >= 1


def test_duplicate_spans(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "a b c d e f g h"), (0, 2, "z z a b c d e y")],
        "time long, doc_id long, text string"))
    spans = docs.duplicate_spans("doc_id", "text", n=3).orderBy("doc_id")
    rows = [(r["doc_id"], r["start_pos"], r["end_pos"]) for r in spans.collect()]
    assert rows == [(1, 0, 5), (2, 2, 7)]


def test_time_partitioned_store_and_weighted_sample(spark, tmp_path):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(t, t * 2) for t in range(100)], "time long, v long"))
    docs.write_time_partitioned(str(tmp_path / "t"), granularity="10ns",
                                mode="overwrite")
    back = TimeSeriesDataFrame.read_time_partitioned(
        spark, str(tmp_path / "t"), granularity="10ns",
        begin_nanos=35, end_nanos=55)
    assert sorted(r["time"] for r in back.collect()) == list(range(35, 55))
    assert "time_bucket" not in back.columns

    weighted = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, i, 4.0 if i < 50 else 0.0) for i in range(100)],
        "time long, id long, w double"))
    kept = weighted.sample_by_weight("id", "w", rate=0.1).collect()
    assert kept and all(r["id"] < 50 for r in kept)


def test_strip_duplicate_spans(spark):
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "a b c d e f g h"), (0, 2, "z z a b c d e y")],
        "time long, doc_id long, text string"))
    spans = docs.duplicate_spans("doc_id", "text", n=3)
    out = docs.strip_duplicate_spans("doc_id", "text", spans).orderBy("doc_id")
    assert [r["text"] for r in out.collect()] == ["f g h", "z z y"]


def test_clock_string_bounds_and_offset(spark):
    c = clocks.uniform(spark, "1970-01-01", "1970-01-01 00:00:00.000000010",
                       "2ns")
    assert c.count() == 6
    # reference semantics: first tick = begin + offset % frequency, ticks
    # bounded by end (end-inclusive) — never past end
    shifted = clocks.uniform(spark, 0, 10, "2ns", offset="1ns")
    assert sorted(r["time"] for r in shifted.collect()) == [1, 3, 5, 7, 9]
    # offset >= frequency wraps: 5ns % 2ns = 1ns
    wrapped = clocks.uniform(spark, 0, 10, "2ns", offset="5ns")
    assert sorted(r["time"] for r in wrapped.collect()) == [1, 3, 5, 7, 9]
    # offset pushing the first tick past end yields an empty clock
    assert clocks.uniform(spark, 0, 3, "10ns", offset="4ns").count() == 0
    # end_inclusive=False drops only a tick landing exactly on end
    ei = clocks.uniform(spark, 0, 10, "2ns", end_inclusive=False)
    assert sorted(r["time"] for r in ei.collect()) == [0, 2, 4, 6, 8]
    assert clocks.random(spark, "19700101", 100, "10ns").count() > 0


# --------------------------------------------------------------- readwriter

def test_fluent_reader_parquet_range_expand_columns(spark, tmp_path):
    import graft
    p = str(tmp_path / "rw")
    spark.createDataFrame([(t, t * 2, "s%d" % t) for t in (5, 10, 15, 20, 25)],
                          "time long, v long, s string") \
        .write.mode("overwrite").parquet(p)
    ts = graft.read(spark).range(10, 20).columns("v").parquet(p)
    assert sorted(r["time"] for r in ts.collect()) == [10, 15]
    assert ts.columns == ["time", "v"]
    wide = graft.read(spark).range(10, 20).expand("5ns", "5ns").parquet(p)
    assert sorted(r["time"] for r in wide.collect()) == [5, 10, 15, 20]


def test_fluent_reader_jsonl(spark, tmp_path):
    import graft
    p = str(tmp_path / "jl")
    spark.createDataFrame([(1, "hello\nworld"), (2, "plain")],
                          "doc_id long, text string") \
        .write.mode("overwrite").json(p)
    # timeless corpus: passes through, columns() is a plain projection
    docs = graft.read(spark).columns("doc_id").jsonl(p)
    assert docs.columns == ["doc_id"]
    assert sorted(r["doc_id"] for r in docs.collect()) == [1, 2]
    # timed corpus: canonized + ranged
    t = str(tmp_path / "jt")
    spark.createDataFrame([(5, "a"), (15, "b"), (25, "c")],
                          "time long, v string") \
        .write.mode("overwrite").json(t)
    ts = graft.read(spark).range(10, 20).jsonl(t)
    assert [r["v"] for r in ts.collect()] == ["b"]
    # configured time column ABSENT but a raw column literally named
    # "time" present: no canonization happened, so the range must NOT
    # apply (nanos bounds vs raw units would silently mis-filter)
    raw = str(tmp_path / "jraw")
    spark.createDataFrame([(5, "a"), (15, "b"), (25, "c")],
                          "time long, v string") \
        .write.mode("overwrite").json(raw)
    untouched = graft.read(spark).time("ts").range(10, 20).jsonl(raw)
    assert sorted(r["v"] for r in untouched.collect()) == ["a", "b", "c"]


def test_fluent_reader_dataframe_and_clock(spark):
    import graft
    df = spark.createDataFrame([(1, 1.0), (5, 2.0), (9, 3.0)],
                               "ts long, v double")
    ts = graft.read(spark).time("ts").dataframe(df, begin=2, end=9)
    assert sorted(r["time"] for r in ts.collect()) == [5]
    clock = graft.read(spark).clock("2ns", 0, 10)
    assert clock.count() == 6


def test_fluent_reader_one_sided_range(spark):
    import graft
    # rows beyond +/-2**62 survive a one-sided range (true one-sided filter,
    # not a sentinel bound)
    far = 2**62 + 7
    df = spark.createDataFrame([(1, 1.0), (5, 2.0), (far, 3.0)],
                               "ts long, v double")
    lo = graft.read(spark).time("ts").range(begin=2).dataframe(df)
    assert sorted(r["time"] for r in lo.collect()) == [5, far]
    hi = graft.read(spark).time("ts").range(end=6).dataframe(df)
    assert sorted(r["time"] for r in hi.collect()) == [1, 5]


def test_fluent_reader_terminals_side_effect_free(spark):
    import graft
    df = spark.createDataFrame([(1, 1.0), (5, 2.0), (9, 3.0)],
                               "ts long, v double")
    rd = graft.read(spark).time("ts")
    # per-call bounds must NOT stick to the reader for later terminals
    assert rd.dataframe(df, begin=2, end=9).count() == 1
    assert rd.dataframe(df).count() == 3
    rd2 = graft.read(spark)
    assert rd2.clock("2ns", 0, 10).count() == 6
    assert rd2._begin is None and rd2._end is None


def test_fluent_reader_time_partitioned(spark, tmp_path):
    import graft
    docs = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(t, t * 2) for t in range(50)], "time long, v long"))
    docs.write_time_partitioned(str(tmp_path / "tp"), granularity="10ns",
                                mode="overwrite")
    ts = graft.read(spark).range(15, 35).columns("v") \
        .time_partitioned(str(tmp_path / "tp"), granularity="10ns")
    assert sorted(r["time"] for r in ts.collect()) == list(range(15, 35))
    assert ts.columns == ["time", "v"]


def test_reference_style_window_specs(spark, ts):
    from graft import windows
    a = ts.summarize_windows(summarizers.sum("v"),
                             window=windows.past_absolute_time("10ns"),
                             key=["k"])
    b = ts.summarize_windows(summarizers.sum("v"), past="10ns", key=["k"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    w = ts.add_windows(window=windows.future_absolute_time("10ns"), key=["k"])
    assert any(c.startswith("window_") for c in w.columns)


# ------------------------------------------------- r8 text / LSH bindings

def test_chunk_tokens_strided_windows(spark):
    # mirrors TextOpsSpec "produce strided windows covering every token"
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(7, "t1 t2 t3 t4 t5")], "id long, text string"))
    r = (d.chunk_tokens("id", "text", chunk_size=3, stride=2)
         .orderBy("chunk_id").collect())
    assert [x["chunk_id"] for x in r] == [0, 1, 2]
    assert [x["start"] for x in r] == [0, 2, 4]
    assert [x["n_tokens"] for x in r] == [3, 3, 1]
    assert [x["chunk_text"] for x in r] == ["t1 t2 t3", "t3 t4 t5", "t5"]


def test_ngram_repetition_fractions(spark):
    # bigrams of "a b a b a": 4 total, 2 distinct, top claims 2/4
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z")], "id long, text string"))
    r = d.ngram_repetition("id", "text", 2).orderBy("id").collect()
    assert r[0]["n_grams"] == 4
    assert abs(r[0]["top_frac"] - 0.5) < 1e-12
    assert abs(r[0]["dup_frac"] - 0.5) < 1e-12
    assert r[1]["n_grams"] == 2 and r[1]["dup_frac"] == 0.0


def test_ngram_overlap_contamination(spark):
    train = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "totally clean document here okay")], "id long, text string"))
    bench = TimeSeriesDataFrame(spark.createDataFrame(
        [(10, "the quick brown fox ran")], "id long, text string"))
    r = train.ngram_overlap(bench, "id", "text", 3).orderBy("id").collect()
    assert r[0]["n_grams"] == 3 and r[0]["n_matched"] == 2
    assert abs(r[0]["contamination"] - 2.0 / 3.0) < 1e-12
    assert r[1]["n_matched"] == 0


def test_sign_lsh_dup_pairs_and_planes(spark):
    # mirrors DedupSpec "find duplicate-level pairs via banded sign-LSH"
    import math
    from graft import lsh_planes
    dim = 16

    def v(f):
        return [f(j) for j in range(dim)]

    rows = [
        (0, v(lambda j: math.sin(j + 1.0))),
        (1, v(lambda j: math.sin(j + 1.0) * (1.001 if j % 2 == 0 else 0.999))),
        (2, v(lambda j: math.cos(3.0 * j + 1.0))),
        (3, v(lambda j: -math.sin(j + 1.0)))]
    d = TimeSeriesDataFrame(spark.createDataFrame(
        rows, "id long, v array<double>"))
    planes = lsh_planes(spark, bands=8, rows_per_band=6, dim=dim)
    assert len(planes) == 48 and len(planes[0]) == dim
    assert set(x for p in planes for x in p) == {-1.0, 1.0}
    assert planes == lsh_planes(spark, bands=8, rows_per_band=6, dim=dim)
    out = d.sign_lsh_dup_pairs("id", "v", planes, rows_per_band=6,
                               threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 1)]
    assert out[0]["cosine"] >= 0.999


def test_stable_estimators_large_mean(spark):
    # mean 1e9, sd ~1e-3: power sums collapse, stable family keeps digits
    rows = [(i, 1.0e9 + ((i * 37) % 21 - 10) * 1e-4) for i in range(200)]
    ts = TimeSeriesDataFrame(spark.createDataFrame(
        rows, "time long, x double"))
    import statistics
    truth = statistics.variance(r[1] - 1.0e9 for r in rows)
    got = ts.summarize(summarizers.variance_stable("x")).collect()[0]
    assert abs(got["x_variance"] - truth) / truth < 1e-3
    z = ts.summarize(
        summarizers.z_score_stable("x", True)).collect()[0]["x_zScore"]
    assert abs(z) < 5  # finite and sane, where power sums may emit NaN


def test_approx_quantile_drop_in(ts):
    exact = ts.summarize(summarizers.quantile("v", [0.5])).collect()[0]
    approx = ts.summarize(
        summarizers.approx_quantile("v", [0.5])).collect()[0]
    assert abs(approx["v_0.5quantile"] - exact["v_0.5quantile"]) < 1e-9


def test_summarize_intervals_stream_on_batch_frame(ts):
    # arbitrary (irregular) clock; on a batch frame the streaming op runs
    # as a plain aggregation — same bucket semantics as batch intervals
    out = ts.summarize_intervals_stream(
        [5, 12, 40], summarizers.sum("v"), key=["k"]).collect()
    # rows at t in [5,12) stamp 12; [12,40) stamp 40 (rounding="end")
    stamps = sorted(set(r["time"] for r in out))
    assert stamps and set(stamps) <= {12, 40}


def test_assign_splits_deterministic_cover(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(i,) for i in range(400)], "id long"))
    splits = [("train", 0.75), ("validation", 0.125), ("test", 0.125)]
    out = d.assign_splits("id", splits).collect()
    assert len(out) == 400
    names = {r["split"] for r in out}
    assert names == {"train", "validation", "test"}
    counts = {n: sum(1 for r in out if r["split"] == n) for n in names}
    assert 240 <= counts["train"] <= 360
    # same assignment on re-run (pure function of id + seed)
    again = {r["id"]: r["split"] for r in d.assign_splits("id", splits).collect()}
    assert all(again[r["id"]] == r["split"] for r in out)


def test_oov_counts(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "a b a zz qq"), (2, "a a a")], "id long, text string"))
    r = d.oov_counts("text", ["a", "b"]).orderBy("id").collect()
    assert (r[0]["n_tokens"], r[0]["n_oov"]) == (5, 2)
    assert abs(r[0]["oov_rate"] - 0.4) < 1e-12
    assert (r[1]["n_tokens"], r[1]["n_oov"]) == (3, 0)


def test_pq_train_encode_topk(spark):
    # mirrors DedupSpec "product quantization": two direction clusters
    # per 2-dim subspace
    rows = [
        (0, [1.0, 0.01, 0.02, 1.0]),
        (1, [0.02, 1.0, 1.0, 0.03]),
        (2, [0.9, 0.05, 0.01, 0.8]),
        (3, [0.03, 0.8, 1.1, 0.0]),
        (4, [1.1, 0.0, 0.05, 0.9])]
    d = TimeSeriesDataFrame(spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"))
    books = d.pq_train("vec_id", "embedding", m=2, k=2, iters=2)
    assert len(books) == 2 and len(books[0]) == 2 and len(books[0][0]) == 2
    codes = {r["id"]: list(r["codes"])
             for r in d.pq_encode("vec_id", "embedding", books).collect()}
    assert codes[0] == codes[2] == codes[4]
    assert codes[1] == codes[3]
    assert codes[0] != codes[1]
    q = TimeSeriesDataFrame(spark.createDataFrame(
        rows[:1], "vec_id long, embedding array<float>"))
    out = (d.pq_topk(q, "vec_id", "embedding", books, k=4)
           .orderBy("rank").collect())
    assert {r["n_id"] for r in out[:2]} == {2, 4}
    scores = [r["cosine"] for r in out]
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_add_lag_sum(spark):
    # mirrors SummarizeModesSpec addLagSum: window 2ns, lag 2ns
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(t, float(t + 1)) for t in range(6)], "time long, v double"))
    out = d.add_lag_sum("v", "2ns", "2ns").orderBy("time").collect()
    assert [(r["v_sum"], r["v_lagSum"]) for r in out] == [
        (1.0, 0.0), (3.0, 0.0), (6.0, 0.0), (9.0, 1.0), (12.0, 3.0),
        (15.0, 5.0)]


def test_url_parts_dedup_and_cap(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "https://WWW.Example.CO.UK:443/A#x"),
         (2, "https://www.example.co.uk:443/a/"),
         (3, "https://other.com/b")], "id long, url string"))
    parts = {r["id"]: (r["url_host"], r["url_domain"], r["url_norm"])
             for r in d.with_url_parts("url").collect()}
    assert parts[1] == ("www.example.co.uk", "example.co.uk",
                        "https://www.example.co.uk:443/a")
    assert parts[3] == ("other.com", "other.com", "https://other.com/b")
    kept = sorted(r["id"] for r in d.dedup_by_url("id", "url").collect())
    assert kept == [1, 3]
    big = TimeSeriesDataFrame(spark.createDataFrame(
        [(i, "https://site%d.com/p/%d" % (i % 2, i)) for i in range(40)],
        "id long, url string"))
    assert big.cap_per_domain("id", "url", n=3).count() == 6


def test_brute_force_topk(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
         (3, [-1.0, 0.0])], "vec_id long, embedding array<float>"))
    q = TimeSeriesDataFrame(spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"))
    out = d.brute_force_topk(q, "vec_id", "embedding", 3).orderBy("rank").collect()
    assert [r["n_id"] for r in out] == [1, 2, 3]
    assert abs(out[2]["cosine"] + 1.0) < 1e-9


def test_ivf_pq_topk(spark):
    rows = [
        (0, [1.0, 0.01, 0.02, 1.0]),
        (1, [0.02, 1.0, 1.0, 0.03]),
        (2, [0.9, 0.05, 0.01, 0.8]),
        (3, [0.03, 0.8, 1.1, 0.0]),
        (4, [1.1, 0.0, 0.05, 0.9])]
    d = TimeSeriesDataFrame(spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"))
    q = TimeSeriesDataFrame(spark.createDataFrame(
        rows[:1], "vec_id long, embedding array<float>"))
    books = d.pq_train("vec_id", "embedding", m=2, k=2, iters=2)
    coarse = [[1.0, 0.0, 0.0, 1.0], [0.0, 1.0, 1.0, 0.0]]
    # probing both cells == full PQ ranking
    full = [tuple(r) for r in d.pq_topk(q, "vec_id", "embedding", books, k=4)
            .orderBy("rank").collect()]
    ivfpq = [tuple(r) for r in d.ivf_pq_topk(q, "vec_id", "embedding",
             coarse, books, k=4, nprobe=2).orderBy("rank").collect()]
    assert ivfpq == full


def test_ivf_pq_topk_encoded_stored_codes(spark):
    # the 100 TB search path: encode once to (id, cell, codes), search the
    # stored frame without ever touching a raw corpus vector — results
    # must equal the raw-vector ivf_pq_topk
    rows = [
        (0, [1.0, 0.01, 0.02, 1.0]),
        (1, [0.02, 1.0, 1.0, 0.03]),
        (2, [0.9, 0.05, 0.01, 0.8]),
        (3, [0.03, 0.8, 1.1, 0.0]),
        (4, [1.1, 0.0, 0.05, 0.9])]
    d = TimeSeriesDataFrame(spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"))
    q = TimeSeriesDataFrame(spark.createDataFrame(
        rows[:1], "vec_id long, embedding array<float>"))
    books = d.pq_train("vec_id", "embedding", m=2, k=2, iters=2)
    coarse = [[1.0, 0.0, 0.0, 1.0], [0.0, 1.0, 1.0, 0.0]]
    stored = d.ivf_pq_encode("vec_id", "embedding", coarse, books)
    assert set(stored.columns) == {"id", "cell", "codes"}
    raw = [tuple(r) for r in d.ivf_pq_topk(q, "vec_id", "embedding",
           coarse, books, k=4, nprobe=2).orderBy("rank").collect()]
    enc = [tuple(r) for r in stored.ivf_pq_topk_encoded(
           q, "vec_id", "embedding", books, k=4, coarse=coarse, nprobe=2)
           .orderBy("rank").collect()]
    assert enc == raw
    # caller-named index columns resolve too
    renamed = TimeSeriesDataFrame(
        stored.withColumnRenamed("id", "doc")
              .withColumnRenamed("codes", "pq"))
    enc2 = [tuple(r) for r in renamed.ivf_pq_topk_encoded(
            q, "vec_id", "embedding", books, k=4, coarse=coarse, nprobe=2,
            index_id_col="doc", index_codes_col="pq")
            .orderBy("rank").collect()]
    assert enc2 == raw


def test_text_column_functions_corpus_report(spark):
    from pyspark.sql import functions as F
    from graft import text
    rows = [
        (0, "s0", "the cat sat on the mat with the hat and the bat"),
        (1, "s0", "el perro y el gato en la casa con la mesa y una silla"),
        (2, "s1", "the quick brown fox jumps over the lazy dog again ok"),
        (3, "s1", "x9 %% {{ !! zz 12 34"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # column functions compose under plain pyspark groupBy/agg — the
    # corpus_report aggregation built end-to-end in Python
    report = (docs
              .select("source",
                      text.token_count("text").alias("nt"),
                      text.bpe_token_count("text").alias("nb"),
                      text.lang_id("text").alias("lang"))
              .groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("nt").alias("n_tokens"),
                   F.sum("nb").alias("n_bpe_tokens"),
                   F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                    .alias("n_en"))
              .orderBy("source").collect())
    by_src = {r["source"]: r for r in report}
    assert by_src["s0"]["n_docs"] == 2
    assert by_src["s0"]["n_tokens"] == 12 + 14  # whitespace tokens
    assert by_src["s0"]["n_en"] == 1            # the es doc is not en
    assert by_src["s1"]["n_en"] >= 1            # fox doc is en; symbol soup
    #                                             falls back to the default
    # bpe >= whitespace tokens always; strictly greater for the symbol doc
    assert by_src["s1"]["n_bpe_tokens"] > by_src["s1"]["n_tokens"]
    # quality_score: clean English prose beats symbol soup
    qs = {r["doc_id"]: r["q"] for r in docs.select(
        "doc_id", text.quality_score("text").alias("q")).collect()}
    assert qs[2] > qs[3]


def test_round10_pipeline_ops(spark):
    # blocklist audit + quality buckets + keep-best dedup + domain filter
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "s", "a bad word", 0.2), (2, "s", "clean text", 0.9),
         (3, "s", "more clean", 0.5)],
        "id long, src string, text string, q double"))
    audited = {r["id"]: (r["n_blocked"], r["keep"])
               for r in docs.blocklist_audit("text", ["bad"]).collect()}
    assert audited == {1: (1, False), 2: (0, True), 3: (0, True)}
    buckets = {r["id"]: r["bucket"]
               for r in docs.quality_buckets("src", "q").collect()}
    assert buckets[2] == "head" and buckets[1] == "tail"
    # sketch-cutpoint path (the bounded-memory 100 TB form): the sketch
    # returns a SAMPLE element as the cutpoint (no R-7 interpolation), so
    # the floor row may land one bucket higher than the exact path; the
    # top row is unambiguous and the floor row can never be head
    sk = {r["id"]: r["bucket"]
          for r in docs.quality_buckets("src", "q",
                                        approx_accuracy=10000).collect()}
    assert sk[2] == "head" and sk[1] in ("tail", "middle")
    pairs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, 2)], "id_a long, id_b long"))
    best = sorted(r["id"] for r in
                  docs.dedup_by_clusters_keep_best(pairs, "id", "q").collect())
    assert best == [2, 3]
    urls = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "https://bad.com/x"), (2, "https://ok.org/y"), (3, "nope")],
        "id long, url string"))
    kept = sorted(r["id"] for r in
                  urls.filter_blocked_domains("url", ["bad.com"]).collect())
    assert kept == [2, 3]


def test_round11_boilerplate_and_tfidf(spark):
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "d", "NAV\nbody one"), (2, "d", "NAV\nbody two"),
         (3, "d", "solo text")],
        "id long, dom string, text string"))
    stripped = {r["id"]: r["text"]
                for r in docs.strip_boilerplate("id", "dom", "text",
                                                min_docs=2).collect()}
    assert stripped == {1: "body one", 2: "body two", 3: "solo text"}
    top = [(r["id"], r["rank"], r["term"])
           for r in docs.tfidf_top_terms("id", "text", 1)
                        .orderBy("id").collect()]
    # terms split on single spaces, so "NAV\nbody" is one (shared, low-idf)
    # token; each doc's unique word wins its top slot ("solo" < "text" on
    # the doc-3 tie)
    assert top == [(1, 1, "one"), (2, 1, "two"), (3, 1, "solo")]
    paras = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "keep me\n\nSHARED BLOCK"), (2, "SHARED BLOCK\n\nother")],
        "id long, text string"))
    deduped = {r["id"]: r["text"]
               for r in paras.dedup_paragraphs("id", "text",
                                               min_chars=4).collect()}
    assert deduped == {1: "keep me\n\nSHARED BLOCK", 2: "other"}
    old_v = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "same"), (2, "was")], "id long, text string"))
    new_v = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "same"), (2, "now"), (3, "new")], "id long, text string"))
    diff = {r["id"]: r["status"]
            for r in old_v.corpus_diff(new_v, "id", "text").collect()}
    assert diff == {1: "unchanged", 2: "changed", 3: "added"}


def test_bigram_model_and_score(spark):
    import math
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], "id long, text string"))
    bi, uni, oov = d.bigram_model("text", top_k=3, top_b=2)
    q = lambda p: round(math.log(p) * 1e6)
    assert dict(bi) == {"a b": q(3 / 3), "b a": q(1 / 3)}
    assert oov == q(1 / 8)
    back = TimeSeriesDataFrame.stupid_backoff_lp(spark)
    assert back == q(0.4)
    got = {r["id"]: r["lp_micro"]
           for r in d.bigram_score("text", bi, uni, back, oov).collect()}
    assert got[1] == q(1 / 3) + back + q(1 / 8)
    assert got[2] == back + q(1 / 8)


def test_unigram_model_and_score(spark):
    import math
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "id long, text string"))
    model, oov = d.unigram_model("text", 2)
    q = lambda p: round(math.log(p) * 1e6)
    assert model == [("a", q(3 / 5)), ("b", q(1 / 5))]
    assert oov == q(1 / 5)
    scores = {r["id"]: r["lp_micro"]
              for r in d.unigram_score("text", model, oov).collect()}
    assert scores == {1: 2 * q(3 / 5) + q(1 / 5), 2: q(3 / 5) + q(1 / 5)}


def test_with_url_parts_psl(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "https://foo.bar.ne.jp/x"), (2, "https://Shop.Example.COM.AU/y")],
        "id long, url string"))
    out = {r["id"]: r["url_domain"] for r in d.with_url_parts_psl(
        "url", ["com", "ne.jp", "com.au"]).collect()}
    assert out == {1: "bar.ne.jp", 2: "example.com.au"}


def test_select_top_by_budget(spark):
    rows = [(i, (i * 37 % 23) + 1, float((i * 31) % 10) / 3.0)
            for i in range(100)]
    d = TimeSeriesDataFrame(spark.createDataFrame(
        rows, "id long, toks long, score double"))
    got = sorted(r["id"] for r in
                 d.select_top_by_budget("id", "toks", "score", 300).collect())
    cum, ref = 0, []
    for i, t, _ in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += t
        if cum <= 300:
            ref.append(i)
    assert got == sorted(ref)


def test_temperature_rates(spark):
    rows = ([(i, "big") for i in range(80)] + [(i, "small") for i in range(80, 100)])
    d = TimeSeriesDataFrame(spark.createDataFrame(rows, "id long, src string"))
    r1 = d.temperature_rates("src", 1.0, 50)
    assert abs(r1["big"] - 0.5) < 1e-12 and abs(r1["small"] - 0.5) < 1e-12
    r05 = d.temperature_rates("src", 0.5, 50)
    assert r05["small"] > r05["big"]
    kept = d.sample_by_rates("src", "id", r05).count()
    assert 20 <= kept <= 80


def test_dedup_against_index_parquet_roundtrip(spark, tmp_path):
    existing = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 10, "alpha beta gamma delta epsilon zeta eta theta")],
        "time long, doc_id long, text string"))
    incoming = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (0, 2, "completely different fresh words appear right here")],
        "time long, doc_id long, text string"))
    path = str(tmp_path / "mh_index")
    existing.build_minhash_index("doc_id", "text").write.parquet(path)
    index = TimeSeriesDataFrame(spark.read.parquet(path))
    kept = incoming.dedup_against_index(index, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]
    direct = incoming.dedup_against_minhash(existing, "doc_id", "text")
    assert (sorted(r["doc_id"] for r in kept.collect())
            == sorted(r["doc_id"] for r in direct.collect()))


def test_dedup_against_bloom_exact(spark):
    existing = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 10, "alpha beta gamma"), (0, 11, "delta epsilon")],
        "time long, doc_id long, text string"))
    incoming = TimeSeriesDataFrame.from_df(spark.createDataFrame(
        [(0, 1, "gamma beta alpha"),          # normalized dup
         (0, 2, "completely new words here")],
        "time long, doc_id long, text string"))
    kept = incoming.dedup_against_bloom_exact(existing, "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]
    # survivors identical to the plain anti-join even with a tiny filter
    tiny = incoming.dedup_against_bloom_exact(
        existing, "text", expected_items=10, fpp=0.5)
    assert sorted(r["doc_id"] for r in tiny.collect()) == [2]


def test_repetition_signals_and_ngram_chars(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "aa\nbb\naa\n\ncc"), (2, "ab ab ab cd")],
        "doc_id long, text string"))
    rep = {r["doc_id"]: r for r in
           d.repetition_signals("doc_id", "text").collect()}
    assert rep[1]["n_lines"] == 4 and abs(rep[1]["dup_line_frac"] - 0.25) < 1e-12
    assert rep[1]["n_paras"] == 2 and rep[1]["dup_para_frac"] == 0.0
    ng = {r["doc_id"]: r for r in
          d.ngram_char_repetition("doc_id", "text", 2).collect()}
    # doc 2: bigrams "ab ab" x2 (len 5), "ab cd" x1; doc chars 11
    assert abs(ng[2]["top_char_frac"] - 10.0 / 11.0) < 1e-12
    assert abs(ng[2]["dup_char_frac"] - 10.0 / 11.0) < 1e-12


def test_bpe_learn_and_encode(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "abab ab"), (2, "abab"), (3, "zz abab")],
        "doc_id long, text string"))
    merges = d.bpe_learn_merges("text", num_merges=2, max_words=100)
    rows = [(r["merge_rank"], r["lhs"], r["rhs"], r["merged"])
            for r in merges.orderBy("merge_rank").collect()]
    assert rows == [(1, "a", "b", "ab"), (2, "ab", "ab", "abab")]
    enc = {r["doc_id"]: r["n_bpe"] for r in
           d.bpe_encode_count("text", merges).collect()}
    assert enc == {1: 2, 2: 1, 3: 3}


def test_dsir_weights_and_gumbel_topk(spark):
    raw = TimeSeriesDataFrame(spark.createDataFrame(
        [(0, "a a a b"), (1, "a a c"), (2, "a b b"), (3, "a a a a")],
        "doc_id long, text string"))
    target = spark.createDataFrame([(10, "b b b a"), (11, "b b c")],
                                   "doc_id long, text string")
    w = {r["doc_id"]: r["lw_micro"] for r in
         raw.dsir_log_weights(target, top_v=2).collect()}
    assert len(w) == 4
    assert w[2] > w[3]  # the b-heavy doc is more target-like than a-only

    scored = TimeSeriesDataFrame(spark.createDataFrame(
        [(i, 20000000 if i < 50 else 0) for i in range(100)],
        "doc_id long, s long"))
    picked = scored.gumbel_topk("doc_id", "s", k=20).collect()
    assert len(picked) == 20
    assert len({r["doc_id"] for r in picked}) == 20  # without replacement
    assert sum(1 for r in picked if r["doc_id"] < 50) >= 18
    again = {r["doc_id"] for r in
             scored.gumbel_topk("doc_id", "s", k=20).collect()}
    assert again == {r["doc_id"] for r in picked}  # deterministic


def test_bm25_topk_and_mixture_rates(spark):
    d = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "the quick brown fox", "a"), (2, "quick quick fox", "a"),
         (3, "lazy dog", "b"), (4, "unrelated words", "b")],
        "doc_id long, text string, source string"))
    q = spark.createDataFrame([(100, "quick fox")], "q_id long, qtext string")
    hits = d.bm25_topk("doc_id", "text", q, k=2).orderBy("rank").collect()
    assert [r["doc_id"] for r in hits] == [2, 1]  # doubled 'quick' wins
    assert hits[0]["q_id"] == 100 and hits[0]["rank"] == 1
    assert hits[0]["score_micro"] > hits[1]["score_micro"] > 0

    t = spark.createDataFrame([("a", 0.5), ("c", 0.5)],
                              "stratum string, share double")
    d2 = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "b", 10), (4, "b", 10)],
        "doc_id long, source string, w long"))
    rates = {r["stratum"]: (r["n_weight"], r["rate"]) for r in
             d2.mixture_rates("source", "w", t, budget=20).collect()}
    assert rates["a"] == (20, 0.5)   # 0.5*20/20
    assert rates["b"] == (20, 0.0)   # untargeted
    assert rates["c"] == (0, 1.0)    # targeted but absent


def test_nb_classify_and_weights(spark):
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"),
         (2, "el gato y el perro", "es"),
         (3, "the dog ate the food", "en"),
         (4, "la casa de la playa", "es")],
        "doc_id long, text string, lang string"))
    out = {r["doc_id"]: r["pred"]
           for r in docs.nb_classify("text", "lang").collect()}
    assert out == {1: "en", 2: "es", 3: "en", 4: "es"}
    w = docs.nb_weights("text", "lang", num_buckets=32).collect()
    assert len(w) > 0
    assert all(r["w_micro"] < 0 for r in w)  # logprobs are negative


def test_web_graph(spark):
    pages = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "https://s1.com/a",
          '<a href="https://t.com/1">x</a><a href="/rel">r</a>'),
         (2, "https://s2.com/b", '<a href="https://t.com/2">y</a>')],
        "doc_id long, url string, html string"))
    edges = pages.domain_edges("url", "html")
    assert sorted((r["src_domain"], r["dst_domain"])
                  for r in edges.collect()) == \
        [("s1.com", "t.com"), ("s2.com", "t.com")]
    stats = pages.inlink_stats("url", "html").collect()
    assert (stats[0]["domain"], stats[0]["n_inlinks"],
            stats[0]["n_src_domains"]) == ("t.com", 2, 2)
    # integer replay: iter1 t=150000+85*2000000//100, iter2 from 150000 srcs
    pr = {r["node"]: r["rank_micro"]
          for r in edges.page_rank(iters=2).collect()}
    assert pr == {"s1.com": 150000, "s2.com": 150000, "t.com": 405000}


def test_cms_heavy_hitters(spark):
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "a a a b"), (2, "a b c")], "doc_id long, text string"))
    hh = {r["token"]: (r["cnt"], r["cms_cnt"]) for r in
          docs.cms_heavy_hitters("text", k=3, width=4096).collect()}
    assert hh["a"] == (4, 4) and hh["b"] == (2, 2) and hh["c"] == (1, 1)
    cells = docs.cms_sketch("text", depth=2, width=1).collect()
    assert sorted((r["cell"], r["cnt"]) for r in cells) == [(0, 7), (1, 7)]


def test_hybrid_topk(spark):
    corpus = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick fox fox"), (3, "lazy dog")],
        "doc_id long, text string"))
    emb = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5]),
         (50, [1.0, 0.0])], "vec_id long, embedding array<float>"))
    q = spark.createDataFrame([(50, "fox")], "q_id long, qtext string")
    out = corpus.hybrid_topk("doc_id", "text", emb, q, k_lex=5, k=2) \
        .orderBy("rank").collect()
    # lexically doc 2 wins (fox twice); cosine rerank puts doc 1 first
    assert [(r["doc_id"], r["rank"]) for r in out] == [(1, 1), (2, 2)]
    assert out[0]["lex_rank"] == 2 and out[1]["lex_rank"] == 1


def test_readability(spark):
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "The cat sat. It ran!"), (2, "")],
        "doc_id long, text string"))
    out = {r["doc_id"]: r for r in
           docs.readability("doc_id", "text").collect()}
    assert (out[1]["n_words"], out[1]["n_sentences"],
            out[1]["n_syllables"]) == (5, 2, 5)
    assert (out[2]["n_words"], out[2]["n_sentences"],
            out[2]["n_syllables"]) == (1, 1, 1)
    assert out[2]["fk_micro"] == round((0.39 + 11.8 - 15.59) * 1e6)


def test_lang_segments(spark):
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, "the cat is on the mat and it\nel gato y el perro en la casa"
             "\nthe dog is in the sun and it"),
         (2, "   \n  ")],
        "doc_id long, text string"))
    out = {r["doc_id"]: r for r in
           docs.lang_segments("doc_id", "text").collect()}
    assert (out[1]["major_lang"], out[1]["n_lines"],
            out[1]["n_langs"], out[1]["mixed"]) == ("en", 3, 2, True)
    assert out[2]["major_lang"] is None and out[2]["mixed"] is None


def test_pipeline_composed(spark):
    # the public composed pipeline: filter -> near-dedup -> span strip ->
    # PII scrub -> PPS sample -> pack -> epoch shuffle
    # docs need stopwords (stop_ok filter rule) and mean token length
    # >= 3 (mwl rule); doc 3's unique tail interleaves stopwords so its
    # post-strip quality stays > 0
    stop_run = "the of and to in that it was he for " * 5
    base = stop_run + " ".join("word%d" % i for i in range(1, 21))
    near = base.replace("word7", "wordX")
    other = (stop_run + " ".join("zzzz%d the" % i for i in range(1, 21))
             + " word1 word2 word3 word4")
    docs = TimeSeriesDataFrame(spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, "too short")],
        "doc_id long, text string"))
    out = docs.pipeline(sample_rate=100.0).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 3]  # 4 fails the hard filter; 2 dedups into 1
    cols = set(out[0].asDict().keys())
    assert {"doc_id", "text", "quality", "n_tokens", "pack_bucket",
            "pack_id", "pack_offset", "shuffle_pos"} <= cols
