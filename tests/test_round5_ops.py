"""Round-5 additions: product quantization, k-core peeling, bounded BFS,
SCD2 point-in-time joins, temperature mixture weighting, robust group
stats, keep-best dedup — pinned on adversarial small inputs (the DuckDB
oracle covers the sf0.01 corpus)."""

import math

import pytest

from pyspark.sql import functions as F

from samza_spark.pipeline import dedup, events, governance, graph, similarity, stats


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def _pq_py(vecs, m, k, dsub):
    """Pure-Python replay of pq_train(1 iter) + pq_encode + ADC."""
    SCALE = 1_000_000_000
    # centroids from id % k seed assignment, exact fixed-point means
    cents = {}
    for mi in range(m):
        for c in range(k):
            members = [v[mi * dsub:(mi + 1) * dsub] for i, v in vecs.items() if i % k == c]
            if not members:
                continue
            cv = []
            for d in range(dsub):
                s = sum(math.floor(x[d] * float(SCALE)) for x in members)
                cv.append(float(s) / float(len(members) * SCALE))
            cents[(mi, c)] = cv

    def l2fx(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return math.floor(SCALE * acc)

    codes = {}
    for i, v in vecs.items():
        codes[i] = [
            min(
                (c for c in range(k) if (mi, c) in cents),
                key=lambda c: (l2fx(v[mi * dsub:(mi + 1) * dsub], cents[(mi, c)]), c),
            )
            for mi in range(m)
        ]

    def adc(qv, i):
        return sum(
            l2fx(qv[mi * dsub:(mi + 1) * dsub], cents[(mi, codes[i][mi])])
            for mi in range(m)
        )

    return cents, codes, adc


def test_pq_matches_python_replay(spark):
    dim, m, k, dsub = 4, 2, 2, 2
    vecs = {
        0: [0.1, 0.2, 0.9, 0.8],
        1: [0.11, 0.19, 0.88, 0.79],
        2: [0.9, 0.85, 0.1, 0.2],
        3: [0.92, 0.81, 0.12, 0.18],
        4: [0.5, 0.5, 0.5, 0.5],
        5: [0.48, 0.52, 0.51, 0.49],
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # float32 storage: replay must quantize through float32 like parquet does
    import struct

    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    vecs32 = {i: [f32(x) for x in v] for i, v in vecs.items()}

    cb = similarity.pq_train_codebook(df, m=m, k=k, dim=dim, n_iters=1)
    assert cb.count() == m * k
    codes = {
        r["vec_id"]: r["codes"]
        for r in similarity.pq_encode(df, cb, m=m, dim=dim).collect()
    }
    cents_py, codes_py, adc_py = _pq_py(vecs32, m, k, dsub)
    assert codes == codes_py

    out = similarity.pq_topk(
        df, df.filter(F.col("vec_id") == 0), k=3, m=m, n_codes=k, dim=dim
    ).collect()
    got = [(r["neighbor_id"], r["adc_nano"]) for r in sorted(out, key=lambda r: r["rank"])]
    want = sorted(
        ((i, adc_py(vecs32[0], i)) for i in vecs if i != 0),
        key=lambda t: (t[1], t[0]),
    )[:3]
    assert got == want


# ---------------------------------------------------------------------------
# k-core / BFS
# ---------------------------------------------------------------------------


def test_kcore_peels_pendant_chain(spark):
    # triangle a-b-c plus chain c-d-e: k=2 peeling removes e then d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "a string, b string",
    )
    out = {r["node"]: r["degree"] for r in graph.kcore_peel(edges, k=2, rounds=3).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}


def test_kcore_whole_graph_survives_when_k_small(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "a string, b string"
    )
    out = {r["node"]: r["degree"] for r in graph.kcore_peel(edges, k=1, rounds=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}


def test_n_hop_reachability_min_hop(spark):
    # path a-b-c-d-e, seed a: hops: a=0 b=1 c=2; d,e unreached at hops=2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "a string, b string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["hop"] for r in graph.n_hop_reachability(edges, seeds, hops=2).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_n_hop_reachability_cycle_keeps_min(spark):
    # square a-b-c-d-a, seed a: b and d at hop 1, c at hop 2 (via either)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], "a string, b string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["hop"] for r in graph.n_hop_reachability(edges, seeds, hops=3).collect()}
    assert out == {"a": 0, "b": 1, "d": 1, "c": 2}


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------


def test_scd2_point_in_time_semantics(spark):
    changes = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "v1"),
            (1, "2024-01-10 00:00:00", 11, "v2"),
            (2, "2024-01-05 00:00:00", 20, "w1"),
        ],
        "user_id long, ts string, event_id long, attr string",
    ).withColumn("ts", F.to_timestamp("ts"))
    dim = events.scd2_intervals(
        changes, "user_id", "ts", ["attr"], order_tiebreak="event_id"
    )
    rows = {(r["user_id"], r["version"]): r for r in dim.collect()}
    assert rows[(1, 1)]["attr"] == "v1" and rows[(1, 1)]["valid_to"] is not None
    assert rows[(1, 2)]["attr"] == "v2" and rows[(1, 2)]["valid_to"] is None

    facts = spark.createDataFrame(
        [
            (100, 1, "2024-01-02 00:00:00"),  # inside v1
            (101, 1, "2024-01-10 00:00:00"),  # exactly at change -> v2
            (102, 1, "2023-12-31 00:00:00"),  # before first version
            (103, 2, "2024-02-01 00:00:00"),  # open-ended current version
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["event_id"]: r["attr"]
        for r in events.point_in_time_join(facts, dim, "user_id", "ts").collect()
    }
    assert out == {100: "v1", 101: "v2", 103: "w1"}
    left = {
        r["event_id"]: r["attr"]
        for r in events.point_in_time_join(facts, dim, "user_id", "ts", how="left").collect()
    }
    assert left[102] is None and len(left) == 4


# ---------------------------------------------------------------------------
# temperature mixture / robust stats
# ---------------------------------------------------------------------------


def test_temperature_mixture_sqrt_weighting(spark):
    docs = spark.createDataFrame(
        [("s1", "a " * 100), ("s2", "b " * 400)],
        "source string, text string",
    )
    out = {r["source"]: r for r in governance.temperature_mixture(docs).collect()}
    assert out["s1"]["n_tokens"] == 100 and out["s2"]["n_tokens"] == 400
    assert out["s1"]["natural_ppm"] == 200_000
    # sqrt weighting: 10 vs 20 -> 1/3 vs 2/3
    assert out["s1"]["temp_ppm"] == 333_333
    assert out["s2"]["temp_ppm"] == 666_666


def test_group_robust_stats_median_mad(spark):
    import statistics

    data = {"g1": [1, 5, 2, 8, 100], "g2": [4, 4, 10, 2]}
    rows = [(g, v, i) for g, vs in data.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "g string, x long, i long")
    out = {r["g"]: r for r in stats.group_robust_stats(df, "g", "x", "i").collect()}
    for g, vs in data.items():
        med = statistics.median(vs)
        mad = statistics.median([abs(v - med) for v in vs])
        assert out[g]["n"] == len(vs)
        assert out[g]["med_x2"] == int(2 * med)
        assert out[g]["mad_x4"] == int(4 * mad)


# ---------------------------------------------------------------------------
# keep-best dedup
# ---------------------------------------------------------------------------


def test_dedup_keep_best_prefers_quality(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base, 10),
            (2, base + " extra", 99),  # near-dup of 1, higher quality
            (3, "completely different text about distributed query engines", 5),
        ],
        "doc_id long, text string, q long",
    )
    out = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_keep_best(
            docs, quality_col="q", threshold=0.6
        ).collect()
    )
    assert out == [2, 3]
    # contrast: min-id CC dedup keeps doc 1
    cc = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_cc(docs, threshold=0.6).collect()
    )
    assert cc == [1, 3]


# ---------------------------------------------------------------------------
# MERGE INTO / CDC
# ---------------------------------------------------------------------------


def test_merge_upsert_semantics(spark):
    from samza_spark.pipeline import versioning

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),
            (2, "b3", "U", 2),  # later seq wins
            (3, "c", "D", 1),
            (4, "d", "I", 1),
        ],
        "id long, v string, op string, seq int",
    )
    out = {
        r["id"]: r["v"]
        for r in versioning.merge_upsert(
            snap, changes, id_col="id", op_col="op", order_cols=("seq",)
        ).collect()
    }
    assert out == {1: "a", 2: "b3", 4: "d"}


def test_streaming_cdc_apply_matches_batch(spark, tmp_path):
    """A CDC stream applied per micro-batch through foreachBatch routing
    (D -> delete, I/U -> upsert into a LocalTable) must land the same
    final state as one batch merge_upsert - the exactly-once replayable
    sink shape of SURVEY.md §2.8 over the §2.7 table API."""
    from samza_spark.pipeline import versioning
    from samza_spark.tables.local import LocalTable

    snap_rows = [(1, "a"), (2, "b"), (3, "c")]
    change_rows = [
        (2, "b2", "U", 1),
        (3, "c", "D", 2),
        (4, "d", "I", 3),
        (4, "d2", "U", 4),
    ]
    snap = spark.createDataFrame(snap_rows, "id long, v string")
    changes = spark.createDataFrame(change_rows, "id long, v string, op string, seq int")
    want = {
        (r["id"], r["v"])
        for r in versioning.merge_upsert(
            snap, changes, id_col="id", op_col="op", order_cols=("seq",)
        ).collect()
    }

    src_dir = str(tmp_path / "cdc_src")
    # one file per change: micro-batches replay the ops in seq order
    for i, row in enumerate(change_rows):
        spark.createDataFrame([row], "id long, v string, op string, seq int").coalesce(
            1
        ).write.mode("append").parquet(src_dir)

    table = LocalTable(spark.createDataFrame(snap_rows, "id long, v string"), ["id"])

    def apply_batch(batch, _epoch):
        for r in batch.orderBy("seq").collect():  # tiny batch: op routing
            one = spark.createDataFrame([(r["id"], r["v"])], "id long, v string")
            if r["op"] == "D":
                table.merge_batch(one, mode="delete")
            else:
                table.merge_batch(one, mode="upsert")

    q = (
        spark.readStream.schema("id long, v string, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["id"], r["v"]) for r in table.df.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# IVF-PQ
# ---------------------------------------------------------------------------


def test_ivfpq_candidates_come_from_probed_lists(spark, sf_dir):
    """Structural invariants of the composed index: each neighbor shares
    a coarse list with one of its query's probes, ranks are contiguous
    from 1, and ADC distances are non-decreasing in rank."""
    from samza_spark.catalog import load_table
    from samza_spark.pipeline import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivfpq_topk(
        emb, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8, dim=64
    ).collect()
    assert out, "ivfpq returned nothing"
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_nano"], r["neighbor_id"]))
    for qid, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        dists = [r[1] for r in rows]
        assert dists == sorted(dists)
        assert all(r[2] != qid for r in rows)


# ---------------------------------------------------------------------------
# novelty / calibration / dup matrix
# ---------------------------------------------------------------------------


def test_ngram_novelty_flags_recycled_text(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " iota kappa"), (3, "totally fresh words here now")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.ngram_novelty(docs, n=3).collect()}
    assert out[1]["novelty_ppm"] == 1_000_000  # first doc: everything novel
    assert out[3]["novelty_ppm"] == 1_000_000  # disjoint vocabulary
    # doc 2 recycles doc 1's 6 trigrams and adds 2 new ones (8 total)
    assert out[2]["n_grams"] == 8 and out[2]["novel_grams"] == 2
    assert out[2]["novelty_ppm"] == 250_000


def test_quality_calibration_percentiles(spark):
    docs = spark.createDataFrame(
        [
            ("s1", 1, "short"),
            ("s1", 2, "a much longer cleaner document with many proper words " * 4),
            ("s1", 3, "!!! ??? ;;; ,,, ..."),
            ("s2", 4, "only doc in this source"),
        ],
        "source string, doc_id long, text string",
    )
    from samza_spark.pipeline import governance

    out = {r["doc_id"]: r["pctile_ppm"] for r in governance.quality_calibration(docs).collect()}
    assert out[4] == 0  # singleton source
    assert out[3] == 0  # worst in s1
    assert out[2] == 1_000_000  # best in s1
    assert out[1] == 500_000


def test_cross_source_dup_matrix_lede(spark):
    lede = "breaking news the quick brown fox jumped today"
    docs = spark.createDataFrame(
        [
            ("wire", 1, lede + " with original details"),
            ("mirror", 2, lede + " with copied details"),
            ("blog", 3, "an unrelated post about cooking pasta nicely"),
        ],
        "source string, doc_id long, text string",
    )
    from samza_spark.pipeline import governance

    out = governance.cross_source_dup_matrix(docs, prefix_words=8).collect()
    assert [(r["src_a"], r["src_b"], r["n_dup_fps"]) for r in out] == [
        ("mirror", "wire", 1)
    ]


# ---------------------------------------------------------------------------
# salted join
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join_on_skewed_keys(spark):
    from samza_spark.operators.skew import salted_join

    # 97% of big-side rows on one hot key
    big = spark.createDataFrame(
        [(1 if i % 100 else 2, i) for i in range(3000)], "k long, payload long"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "miss")], "k long, v string")
    got = sorted(
        (r["k"], r["payload"], r["v"])
        for r in salted_join(big, small, on="k", n_salts=4).collect()
    )
    want = sorted(
        (r["k"], r["payload"], r["v"]) for r in big.join(small, on="k").collect()
    )
    assert got == want


def test_salted_join_salt_is_in_join_keys(spark):
    from samza_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 10)], "k long, payload long")
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    plan = (
        salted_join(big, small, on="k", n_salts=4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "__salt" in plan  # the shuffle spreads on (key, salt)


def test_streaming_pit_enrichment_matches_batch(spark, tmp_path):
    """A purchase stream enriched per micro-batch against a static SCD2
    dimension (stream-table PIT join in foreachBatch) must produce the
    batch point_in_time_join's rows exactly."""
    changes = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "v1"),
            (1, "2024-01-10 00:00:00", 11, "v2"),
        ],
        "user_id long, ts string, event_id long, attr string",
    ).withColumn("ts", F.to_timestamp("ts"))
    dim = events.scd2_intervals(changes, "user_id", "ts", ["attr"], "event_id")

    fact_rows = [
        (100, 1, "2024-01-02 00:00:00"),
        (101, 1, "2024-01-11 00:00:00"),
        (102, 1, "2024-01-09 23:59:59"),
    ]
    facts = spark.createDataFrame(
        fact_rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        (r["event_id"], r["attr"])
        for r in events.point_in_time_join(facts, dim, "user_id", "ts").collect()
    }

    src = str(tmp_path / "facts")
    for row in fact_rows:
        spark.createDataFrame([row], "event_id long, user_id long, ts string").coalesce(
            1
        ).write.mode("append").parquet(src)

    got = []

    def enrich(batch, _epoch):
        b = batch.withColumn("ts", F.to_timestamp("ts"))
        got.extend(
            (r["event_id"], r["attr"])
            for r in events.point_in_time_join(b, dim, "user_id", "ts").collect()
        )

    q = (
        spark.readStream.schema("event_id long, user_id long, ts string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .writeStream.foreachBatch(enrich)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert set(got) == want and len(got) == len(want)


def test_quality_report_rules(spark):
    from samza_spark.pipeline import quality

    df = spark.createDataFrame(
        [(1, "a", 5), (2, None, -1), (2, "c", 50)],
        "id long, txt string, v long",
    )
    rules = [
        {"name": "txt_c", "kind": "completeness", "col": "txt", "min_ppm": 900_000},
        {"name": "id_u", "kind": "uniqueness", "col": "id", "min_ppm": 1_000_000},
        {"name": "v_pos", "kind": "non_negative", "col": "v", "min_ppm": 1_000_000},
        {"name": "v_rng", "kind": "in_range", "col": "v", "lo": 0, "hi": 10, "min_ppm": 300_000},
    ]
    out = {r["rule"]: r for r in quality.quality_report(df, rules).collect()}
    assert out["txt_c"]["metric_ppm"] == 666_666 and not out["txt_c"]["passed"]
    assert out["id_u"]["metric_ppm"] == 666_666 and not out["id_u"]["passed"]
    assert out["v_pos"]["metric_ppm"] == 666_666 and not out["v_pos"]["passed"]
    assert out["v_rng"]["metric_ppm"] == 333_333 and out["v_rng"]["passed"]


def test_twap_step_integral(spark):
    from samza_spark.pipeline import events as ev

    # user 1: value 10 held 3us, then 20 held 1us -> (10*3 + 20*1)/4 = 12.5
    rows = [
        (1, 0, 10.0),
        (1, 3, 20.0),
        (1, 4, 99.0),  # final obs: zero holding time
        (2, 0, 5.0),  # singleton: excluded (no elapsed time)
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, value double").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts"), "value"
    )
    out = {r["user_id"]: r for r in ev.twap_per_key(df).collect()}
    assert 2 not in out
    # cents scale: (1000*3 + 2000*1) div 4 = 1250
    assert out[1]["twap_scaled"] == 1250 and out[1]["n_obs"] == 3


def test_zorder_locality(spark):
    from samza_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 1), (3, 65535, 65535), (4, 0, 65535)],
        "id long, a long, b long",
    )
    out = {r["id"]: (r["z"], r["zbucket"]) for r in sampling.zorder_layout(df, "a", "b").collect()}
    assert out[1] == (0, 0)
    assert out[2][0] == 3  # interleave(1,1) = 0b11
    assert out[3][0] == (1 << 32) - 1 and out[3][1] == 15
    assert out[4][0] == int("10" * 16, 2)  # only odd bits set


def test_matview_merge_equals_full_recompute(spark):
    from samza_spark.pipeline import matview

    rows = [(i % 3, i, i * 7 % 50) for i in range(60)]
    df = spark.createDataFrame(rows, "k long, seq long, v long")
    specs = {
        "n": ("count", None),
        "s": ("sum", "v"),
        "mn": ("min", "v"),
        "mx": ("max", "v"),
    }
    full = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in matview.agg_state(df, ["k"], specs).collect()
    }
    # split three ways, merge pairwise (associativity across refreshes)
    a = matview.agg_state(df.filter("seq < 20"), ["k"], specs)
    b = matview.agg_state(df.filter("seq >= 20 and seq < 45"), ["k"], specs)
    c = matview.agg_state(df.filter("seq >= 45"), ["k"], specs)
    inc = matview.merge_agg_states(
        matview.merge_agg_states(a, b, ["k"], specs), c, ["k"], specs
    )
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in inc.collect()}
    assert got == full


def test_ngram_novelty_hash_impl_equals_exact(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i} shares some words with doc {i-1} sometimes") for i in range(30)],
        "doc_id long, text string",
    )
    # expected rows in plain Python: distinct word 3-grams per doc; a
    # gram is novel when no smaller id contains it
    grams = {}
    for r in docs.collect():
        w = r["text"].lower().split()
        grams[r["doc_id"]] = {tuple(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}
    first = {}
    for did in sorted(grams):
        for g in grams[did]:
            first.setdefault(g, did)
    want = set()
    for did, gs in grams.items():
        novel = sum(first[g] == did for g in gs)
        want.add((did, len(gs), novel, novel * 1_000_000 // len(gs)))
    got = {tuple(r) for r in dedup.ngram_novelty(docs).collect()}
    assert got == want


def test_multimodal_frame_dedup_end_to_end(spark):
    """Composed multimodal pipeline: video blobs -> frame sampling ->
    per-frame features -> cross-video cosine near-dup. Two videos
    sharing identical byte content must collide frame-for-frame
    (features are content-deterministic); a distinct video must not.
    Exercises the full plumbing chain the brief requires (binary
    columns, mapInPandas batch shapes, feature arrays) with no real
    codec."""
    from samza_spark.pipeline import multimodal, similarity

    shared = bytes(range(256)) * 4  # 1 KiB -> 64 fake frames pre-sampling
    other = bytes(reversed(range(256))) * 4
    vids = spark.createDataFrame(
        [(1, bytearray(shared)), (2, bytearray(shared)), (3, bytearray(other))],
        "vid long, content binary",
    )
    frames = multimodal.sample_video_frames(vids, every_n=16, dim=16)
    rows = frames.collect()
    assert {r["vid"] for r in rows} == {1, 2, 3}
    assert all(r["n_frames"] == len(r["frame_feats"]) == 4 for r in rows)

    exploded = frames.select(
        "vid", F.posexplode("frame_feats").alias("fidx", "feat")
    ).withColumn("fid", F.expr("vid * 1000 + fidx"))
    l = exploded.select(
        F.col("fid").alias("a"), F.col("vid").alias("va"),
        F.col("fidx").alias("fa"), F.col("feat").alias("ffa"),
    )
    r = exploded.select(
        F.col("fid").alias("b"), F.col("vid").alias("vb"),
        F.col("fidx").alias("fb"), F.col("feat").alias("ffb"),
    )
    pairs = (
        l.join(r, (F.col("va") < F.col("vb")))
        .withColumn("cos", similarity.cosine_sim_expr("ffa", "ffb"))
        .filter(F.col("cos") > 0.999)
        .select("va", "vb", "fa", "fb")
        .collect()
    )
    got = {(p["va"], p["vb"], p["fa"], p["fb"]) for p in pairs}
    # videos 1 and 2 are byte-identical: all 4 frames pair up positionally
    assert {(1, 2, i, i) for i in range(4)} <= got
    # nothing matches the distinct video
    assert not any(3 in (a, b) for a, b, _, _ in got)
