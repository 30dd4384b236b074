"""Operator-level unit tests: reference-spec details (naming, the 51-column
measure list, upgrade formatter edges), dedup recall on injected
near-duplicates, as-of join semantics on a hand-built tiny input, and the
monitoring/reconciliation layer.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.functions.scalars import dotted, quote_ident, upgrade_str
from nbi_oedi_etl_spark.monitor import StageCounters
from nbi_oedi_etl_spark.operators import asof, dedup, multimodal, reconcile
from nbi_oedi_etl_spark.operators.resample import REFERENCE_MEASURE_COLUMNS, resample_hourly
from nbi_oedi_etl_spark.sources import read_table

from .conftest import SF_SMALL


# ------------------------------------------------------------- resample spec

def test_reference_measure_columns_spec():
    """The 51-column mean list (transform.py:64-114) with its single
    asymmetry: other_fuel.water_systems has no _intensity partner
    (transform.py:112)."""
    cols = REFERENCE_MEASURE_COLUMNS
    assert len(cols) == 51
    assert "out.other_fuel.water_systems.energy_consumption" in cols
    assert "out.other_fuel.water_systems.energy_consumption_intensity" not in cols
    # every other consumption column has an intensity twin
    for c in cols:
        if c.endswith(".energy_consumption") and "other_fuel.water_systems" not in c:
            assert f"{c}_intensity" in cols, c
    assert sum(1 for c in cols if c.endswith("_intensity")) == 25
    # reference position (transform.py:112): the intensity-less column sits
    # immediately before the site_energy pair, not appended last
    i = cols.index("out.other_fuel.water_systems.energy_consumption")
    assert cols[i - 1] == "out.other_fuel.total.energy_consumption_intensity"
    assert cols[i + 1] == "out.site_energy.total.energy_consumption"
    assert cols[-1] == "out.site_energy.total.energy_consumption_intensity"


def test_resample_output_naming_and_order(spark):
    """§1.4: explicit aggregates first (_min then _mean), group keys last."""
    df = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 1, 1, 0, 10), bldg_id=7, m=1.0),
            Row(ts=dt.datetime(2024, 1, 1, 0, 40), bldg_id=7, m=3.0),
        ]
    )
    out = resample_hourly(
        df, ts_col="ts", entity_cols=("bldg_id",), min_cols=("bldg_id", "ts"),
        mean_cols=("m",), hour_col="hour",
    )
    assert out.columns == ["bldg_id_min", "ts_min", "m_mean", "bldg_id", "hour"]
    row = out.first()
    assert row["m_mean"] == 2.0
    assert row["bldg_id_min"] == 7
    assert row["ts_min"] == dt.datetime(2024, 1, 1, 0, 10)
    assert row["hour"] == dt.datetime(2024, 1, 1, 0, 0)


def test_resample_does_not_merge_entities(spark):
    """§7.4.2: two buildings in the same hour must NOT share a group."""
    df = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 1, 1, 0, 10), bldg_id=1, m=10.0),
            Row(ts=dt.datetime(2024, 1, 1, 0, 20), bldg_id=2, m=30.0),
        ]
    )
    out = resample_hourly(
        df, ts_col="ts", entity_cols=("bldg_id",), min_cols=("bldg_id",),
        mean_cols=("m",), hour_col="hour",
    )
    assert out.count() == 2
    vals = {r["bldg_id"]: r["m_mean"] for r in out.collect()}
    assert vals == {1: 10.0, 2: 30.0}


def test_resample_quotes_awkward_names_matches_pandas(spark):
    """Identifier quoting in the one-SQL-string aggregate: a dotted measure
    whose name holds a backtick and braces (braces are format-string syntax
    for ``spark.sql``'s ``{src}`` binding), a measure with nulls (the mean
    skips them), ``round_means`` and ``hour_col`` — checked against an
    independent pandas recomputation."""
    import pandas as pd

    odd = "out.we`ird.{site}_energy}"
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:50", "2024-01-01 01:10",
                 "2024-01-01 00:20", "2024-01-01 01:45", "2024-01-01 01:59"]
            ).astype("datetime64[us]"),
            "bldg_id": [1, 1, 1, 2, 2, 2],
            odd: [1.0, 2.0, 4.0, 0.1, 0.2, 0.4],
            "gappy": [None, 3.0, None, 1.0, 2.0, 5.0],
        }
    )
    out = resample_hourly(
        spark.createDataFrame(pdf), ts_col="ts", entity_cols=("bldg_id",),
        min_cols=("bldg_id", "ts"), mean_cols=(odd, "gappy"), hour_col="hr",
        round_means=3,
    )
    assert out.columns == [
        "bldg_id_min", "ts_min", f"{odd}_mean", "gappy_mean", "bldg_id", "hr",
    ]
    g = pdf.assign(hr=pdf["ts"].dt.floor("h")).groupby(["bldg_id", "hr"])
    want = {
        (b, hr.to_pydatetime()): (
            grp["bldg_id"].min(), grp["ts"].min().to_pydatetime(),
            round(grp[odd].mean(), 3),
            None if grp["gappy"].isna().all() else round(grp["gappy"].mean(), 3),
        )
        for (b, hr), grp in g
    }
    got = {(r["bldg_id"], r["hr"]): tuple(r)[:4] for r in out.collect()}
    assert got == want
    # the hour with only a null ``gappy`` sample has a null mean
    assert got[(1, dt.datetime(2024, 1, 1, 1))][3] is None


def test_dotted_and_quote_ident_escape_backticks(spark):
    """``quote_ident`` doubles an embedded backtick, so ``dotted`` resolves
    a name containing one instead of building an unparseable reference."""
    assert quote_ident("a.b") == "`a.b`"
    assert quote_ident("a`b") == "`a``b`"
    df = spark.createDataFrame([(1, 2)], ["x.y`z", "w"])
    assert df.select(dotted("x.y`z")).first()[0] == 1


# ------------------------------------------------------------------ scalars

def test_upgrade_str_reference_rule(spark):
    """fetch.py:19-37: 0→baseline, 1..9→upgrade0N, ≥10→upgradeN."""
    df = spark.range(0, 16).select(upgrade_str(F.col("id").cast("int")).alias("u"))
    got = [r["u"] for r in df.collect()]
    assert got[0] == "baseline"
    assert got[1] == "upgrade01"
    assert got[9] == "upgrade09"
    assert got[10] == "upgrade10"
    assert got[15] == "upgrade15"


# -------------------------------------------------------------------- dedup

def _with_near_dups(spark):
    docs = read_table(spark, SF_SMALL, "documents").limit(50)
    # duplicate doc 0..2 with a one-token suffix change → near-dups;
    # duplicate doc 3 exactly → exact dup
    base = docs.select("doc_id", "text")
    near = (
        base.where(F.col("doc_id") < 3)
        .select((F.col("doc_id") + 1000).alias("doc_id"), F.concat("text", F.lit(" zzz")).alias("text"))
    )
    exact = base.where(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    return base.unionByName(near).unionByName(exact)


def test_exact_dedup_groups_finds_injected_dup(spark):
    df = _with_near_dups(spark)
    groups = dedup.exact_dedup_groups(df)
    dups = groups.where(F.col("dup_count") > 1).collect()
    assert len(dups) == 1
    assert dups[0]["canonical_doc_id"] == 3
    assert dups[0]["dup_count"] == 2
    kept = dedup.exact_dedup(df)
    assert kept.count() == df.count() - 1


def test_minhash_lsh_recall_on_injected_near_dups(spark):
    """Injected near-duplicates (1-token edit on ~100-token docs) must
    surface as candidate pairs; exact duplicates always collide."""
    df = _with_near_dups(spark)
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.minhash_lsh_candidates(df).collect()
    }
    assert (3, 2003) in pairs  # exact dup: all bands match
    near_hits = sum((i, 1000 + i) in pairs for i in range(3))
    assert near_hits >= 2, f"LSH recall too low: {near_hits}/3 near-dups found"


def test_ngram_jaccard_scores_near_dups_high(spark):
    df = _with_near_dups(spark)
    pairs = spark.createDataFrame(
        [Row(doc_id_a=0, doc_id_b=1000), Row(doc_id_a=3, doc_id_b=2003), Row(doc_id_a=0, doc_id_b=1)]
    )
    scored = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard(df, pairs).collect()
    }
    assert scored[(3, 2003)] == 1.0  # identical text
    assert scored[(0, 1000)] > 0.9  # near-dup
    assert scored[(0, 1)] < 0.5  # unrelated docs


def test_simhash_near_dups_close_in_hamming(spark):
    df = _with_near_dups(spark)
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_buckets(df).collect()}
    ham_near = bin((sh[0] ^ sh[1000]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[1]) & ((1 << 64) - 1)).count("1")
    assert ham_near <= 8, f"near-dup hamming {ham_near}"
    assert ham_far > ham_near


# -------------------------------------------------------------------- as-of

def test_asof_join_semantics(spark):
    """Backward as-of: latest right ts <= left ts per key; ties match;
    missing history → nulls."""
    left = spark.createDataFrame(
        [
            Row(k=1, lts=dt.datetime(2024, 1, 1, 10, 0)),
            Row(k=1, lts=dt.datetime(2024, 1, 1, 12, 0)),
            Row(k=2, lts=dt.datetime(2024, 1, 1, 9, 0)),
        ]
    ).select("k", F.col("lts").cast("timestamp_ntz").alias("lts"))
    right = spark.createDataFrame(
        [
            Row(k=1, rts=dt.datetime(2024, 1, 1, 10, 0), v=1.0),  # tie with left@10
            Row(k=1, rts=dt.datetime(2024, 1, 1, 11, 0), v=2.0),
            Row(k=2, rts=dt.datetime(2024, 1, 1, 9, 30), v=9.0),  # after left@9
        ]
    ).select("k", F.col("rts").cast("timestamp_ntz").alias("rts"), "v")
    out = asof.asof_join(left, right, on="k", left_ts="lts", right_ts="rts", right_payload=["v"])
    rows = {(r["k"], r["lts"]): (r["asof_ts"], r["v_asof"]) for r in out.collect()}
    assert rows[(1, dt.datetime(2024, 1, 1, 10, 0))] == (dt.datetime(2024, 1, 1, 10, 0), 1.0)
    assert rows[(1, dt.datetime(2024, 1, 1, 12, 0))] == (dt.datetime(2024, 1, 1, 11, 0), 2.0)
    assert rows[(2, dt.datetime(2024, 1, 1, 9, 0))] == (None, None)


# -------------------------------------------------- monitor / reconciliation

def test_stage_counters_observe(spark):
    counters = StageCounters()
    df = counters.count_stage(read_table(spark, SF_SMALL, "nation"), "listed")
    n = df.count()
    assert counters.summary() == {"listed": n}


def test_reconciliation_report(spark):
    orders = read_table(spark, SF_SMALL, "orders")
    subset = orders.where(F.col("o_orderkey") % 10 != 0)
    rep = reconcile.reconciliation_report(orders, subset, "o_orderkey")
    assert rep["listed"] == orders.count()
    assert rep["uploaded"] == subset.count()
    assert rep["discrepancies"] == rep["listed"] - rep["uploaded"]


# --------------------------------------------------------------- multimodal

def test_multimodal_features_real_decode(spark):
    docs = read_table(spark, SF_SMALL, "documents").limit(20)
    payloads = multimodal.with_png_payload(docs)
    feats = multimodal.extract_image_features(payloads)
    assert [f.name for f in feats.schema.fields] == [
        "doc_id", "mime", "width", "height", "channels", "pixel_byte_sum", "decoded_ok",
    ]
    rows = sorted(feats.collect(), key=lambda r: r["doc_id"])
    for r in rows:
        i = r["doc_id"]
        assert (r["width"], r["height"], r["channels"]) == (1 + i % 13, 1 + i % 7, 3)
        assert r["decoded_ok"]
    b = sorted(multimodal.extract_image_features(payloads).collect(), key=lambda r: r["doc_id"])
    assert rows == b  # deterministic


def test_multimodal_features_undecodable_payload_quarantined(spark):
    docs = read_table(spark, SF_SMALL, "documents").limit(5)
    # raw UTF-8 text bytes are not an image: must yield decoded_ok=False
    # rows (log-and-drop posture), never a task failure
    feats = multimodal.extract_image_features(multimodal.with_binary_payload(docs))
    rows = feats.collect()
    assert len(rows) == 5
    assert all(not r["decoded_ok"] and r["width"] is None for r in rows)


def test_multimodal_frame_fanout(spark):
    docs = read_table(spark, SF_SMALL, "documents").limit(10)
    frames = multimodal.sample_frames(multimodal.with_binary_payload(docs), n_frames=3)
    assert frames.count() == 30
    assert frames.groupBy("doc_id").count().where("count != 3").count() == 0


def test_multimodal_resize_real_roundtrip(spark):
    docs = read_table(spark, SF_SMALL, "documents").limit(10)
    payloads = multimodal.with_png_payload(docs)
    resized = multimodal.resize_images(payloads, width=8, height=8)
    rows = sorted(resized.collect(), key=lambda r: r["doc_id"])
    assert len(rows) == 10  # 1→1
    for r in rows:
        w, h, c, pix = multimodal.decode_png(bytes(r["payload"]))
        assert (w, h, c) == (8, 8, 3)
        assert len(pix) == 8 * 8 * 3
        assert (r["width"], r["height"], r["channels"]) == (8, 8, 3)
    again = sorted(
        multimodal.resize_images(payloads, width=8, height=8).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [bytes(r["payload"]) for r in rows] == [bytes(r["payload"]) for r in again]


def test_decode_dispatch_unavailable_codecs_raise():
    # JPEG now routes to the real baseline decoder (round 5); a payload
    # with JPEG magic but no frame is a decode error, not a codec gap
    with pytest.raises(ValueError, match="truncated JPEG"):
        multimodal.decode_image_real(b"\xff\xd8\xff\xe0\x00\x04--")
    # WebP routes to the real VP8L decoder (round 6): a container with
    # no VP8L chunk is a decode error; only lossy "VP8 " stays a codec gap
    with pytest.raises(ValueError):
        multimodal.decode_image_real(b"RIFF\x00\x00\x00\x00WEBP")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(
            b"RIFF\x0c\x00\x00\x00WEBPVP8 \x00\x00\x00\x00"
        )
    with pytest.raises(ValueError):
        multimodal.decode_image_real(b"not an image at all")
    with pytest.raises(ValueError):
        multimodal.decode_image_real(b"\x89PNG")  # truncated signature


def test_stateful_sessions_match_batch_closed_sessions(spark):
    """applyInPandasWithState sessionization must agree with the batch
    session_window view on every session the watermark could close; only
    tail sessions (still open at stream end) may be absent."""
    import datetime as dt

    from nbi_oedi_etl_spark import workload
    from nbi_oedi_etl_spark.operators import sessions

    sf = SF_SMALL
    streamed = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in workload.queries()["stateful_session_stats"](spark, sf).collect()
    }
    events = read_table(spark, sf, "events")
    batch = [
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessions.user_sessions(events).collect()
    ]
    batch_set = set(batch)
    assert streamed <= batch_set, "streamed session not present in batch view"
    # sessions that certainly closed before the final watermark must stream
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    gap = dt.timedelta(minutes=30)
    delay = dt.timedelta(minutes=1)
    ends = {
        (r["user_id"], r["session_start"], r["n_events"]): r["session_end"]
        for r in workload.queries()["stateful_session_stats"](spark, sf).collect()
    }
    must_stream = {
        k for k in batch_set
        # session_start + generous bound well before the final watermark
        if k[1] + gap + gap + delay + delay < max_ts
    }
    missing = {k for k in must_stream if k not in streamed}
    # a session can span past its start; only flag ones whose LATEST possible
    # end (start + gap*n is unbounded) — use exact end from streamed where
    # available; tolerate none missing in practice
    assert len(missing) / max(len(must_stream), 1) < 0.05, (
        f"{len(missing)}/{len(must_stream)} closable sessions not streamed"
    )


def test_sessionizer_out_of_order_second_batch():
    """A late (within-watermark) event in a LATER microbatch must never
    regress the carried session bounds: last_us stays at the max seen,
    start_us extends downward (ADVICE r1: unconditional overwrite emitted
    wrong session_end/timeout). Drives the applyInPandasWithState function
    directly with a fake GroupState — batch 1 in order, batch 2 out of
    order — no streaming harness needed."""
    import pandas as pd

    from nbi_oedi_etl_spark.streaming.stateful import make_sessionizer

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.timeout_ms = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def remove(self):
            self._v, self.exists = None, False

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    sessionize = make_sessionizer(gap_seconds=1800)
    state = FakeState()
    us = 1_000_000  # µs per second
    # sessionize reads the ts column as int64 nanoseconds
    mkbatch = lambda secs: [
        pd.DataFrame({"ts": pd.Series([s * 1_000_000_000 for s in secs], dtype="int64")})
    ]

    # batch 1: events at t=0s and t=600s (in order)
    assert list(sessionize((7,), mkbatch([0, 600]), state)) == []
    assert state.get == (0, 600 * us, 2)
    t1_timeout = state.timeout_ms
    # batch 2: late event at t=300s — inside the session, older than last
    assert list(sessionize((7,), mkbatch([300]), state)) == []
    assert state.get == (0, 600 * us, 3), "bounds regressed on late event"
    assert state.timeout_ms == t1_timeout, "timeout must track max ts, not last event"
    # batch 3: late event BEFORE the carried start extends start downward
    list(sessionize((7,), mkbatch([-120]), state))
    assert state.get == (-120 * us, 600 * us, 4)
    # batch 4: event past the gap closes the carried session with the
    # correct (extended) bounds
    closed = list(sessionize((7,), mkbatch([600 + 1800]), state))
    assert len(closed) == 1
    row = closed[0].iloc[0]
    assert row["session_start"] == pd.Timestamp(-120 * us, unit="us")
    assert row["session_end"] == pd.Timestamp(600 * us, unit="us")
    assert row["n_events"] == 4


def test_hash_sample_invariant_under_partitioning(spark):
    """The deterministic hash sample must select the SAME rows regardless
    of physical layout — the reproducibility claim that TABLESAMPLE can't
    make (its rows depend on partition boundaries)."""
    from nbi_oedi_etl_spark import workload

    base = {
        r["doc_id"]
        for r in workload.queries()["hash_sample_documents"](spark, SF_SMALL).collect()
    }
    from nbi_oedi_etl_spark.workload_ext import hash_sample_documents
    from nbi_oedi_etl_spark.sources import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_SMALL, "documents")
    for layout in (docs.repartition(17), docs.repartition(1), docs.coalesce(2)):
        bucket = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("bigint") % 10
        )
        got = {r["doc_id"] for r in layout.where(bucket == 0).select("doc_id").collect()}
        assert got == base


def test_connected_components_known_graphs(spark):
    """Chain + separate pair + isolated-from-pairs node: components must be
    the transitive closure, not just pairwise minima."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id_a": [1, 2, 3, 10, 8, 7], "doc_id_b": [2, 3, 4, 11, 9, 8]}
        )
    )
    comp = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7, 9: 7}


def test_connected_components_long_chain_converges(spark):
    """A 12-node chain needs ~11 propagation rounds — exercises the
    iteration + convergence logic well past the typical 2-4 rounds."""
    import pandas as pd

    n = 12
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": list(range(n - 1)), "doc_id_b": list(range(1, n))})
    )
    rows = dedup.connected_components(pairs).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n


def test_connected_components_star_known_graphs(spark):
    """large-star/small-star must produce the identical (node, component)
    table as min-label propagation on chain + pair + triple components."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id_a": [1, 2, 3, 10, 8, 7], "doc_id_b": [2, 3, 4, 11, 9, 8]}
        )
    )
    comp = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7, 9: 7}


def test_connected_components_star_agrees_with_min_label(spark):
    """Adversarial shapes where the two algorithms' round counts diverge
    most: a 40-node chain (min-label: ~39 rounds if not capped; star:
    ~log₂ 40 ≈ 6), a clique, a star, and shuffled random unions — the
    (node, component) tables must match exactly."""
    import random

    import pandas as pd

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(40)]
    clique = [(a, b) for a in range(100, 106) for b in range(100, 106) if a < b]
    star_g = [(200, v) for v in range(201, 210)]
    rnd = [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(45)]
    rnd = [(a, b) for a, b in rnd if a != b]
    edges = chain + clique + star_g + rnd
    rng.shuffle(edges)
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id_a": [a for a, _ in edges], "doc_id_b": [b for _, b in edges]}
        )
    )
    got_star = sorted(
        (r["node"], r["component"])
        for r in dedup.connected_components_star(pairs, max_iterations=12).collect()
    )
    got_label = sorted(
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs, max_iterations=60).collect()
    )
    assert got_star == got_label


def test_dedup_clusters_canonicals(spark):
    """dedup_clusters: exact-duplicate docs in the testdata must land in the
    same cluster with the smallest id as canonical."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["same text here", "same text here", "same text here", "unique"],
            }
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": [1, 2], "doc_id_b": [2, 3]})
    )
    rows = dedup.dedup_clusters(docs, pairs).collect()
    assert len(rows) == 1
    assert rows[0]["canonical_doc_id"] == 1
    assert rows[0]["cluster_size"] == 3


def test_scd2_and_cascade_single_event(spark, tmp_path):
    """One event for one user: SCD2 yields a single open current version;
    the cascade yields one daily bucket whose mean is the event value."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nbi_oedi_etl_spark import workload_ext2 as ext2

    t = pa.table(
        {
            "event_id": pa.array([7], pa.int64()),
            "ts": pa.array([datetime.datetime(2024, 1, 1, 0, 0, 1)], pa.timestamp("us")),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(['{"k": 1}']),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    r = ext2.scd2_user_events(spark, str(tmp_path)).collect()
    assert len(r) == 1 and r[0].is_current and r[0].valid_to is None and r[0].version == 1
    c = ext2.cascade_daily_rollup(spark, str(tmp_path)).collect()
    assert len(c) == 1 and c[0].value_mean == 1.5 and c[0].n_events == 1


def test_chunk_documents_edges(spark):
    """Window arithmetic: exact-fit text yields one chunk; one char past
    the no-new-coverage bound yields two; empty text still yields its one
    (empty) chunk; degenerate overlap is rejected."""
    import pytest as _pytest

    from nbi_oedi_etl_spark.operators import chunking

    docs = spark.createDataFrame(
        [(1, "a" * 500), (2, "b" * 501), (3, ""), (4, "c" * 900), (5, "d" * 901)],
        "doc_id long, text string",
    )
    out = chunking.chunk_documents(docs, chunk_chars=500, overlap_chars=100)
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_start"], r["chunk_len"])
        for r in out.collect()
    }
    per_doc = {d: sorted(k[1] for k in rows if k[0] == d) for d in (1, 2, 3, 4, 5)}
    assert per_doc[1] == [0]  # 500 chars: one exact-fit chunk
    assert per_doc[2] == [0, 1] and rows[(2, 1)] == (401, 101)
    assert per_doc[3] == [0] and rows[(3, 0)] == (1, 0)  # empty text
    assert per_doc[4] == [0, 1] and rows[(4, 1)] == (401, 500)  # 900 = covered
    assert per_doc[5] == [0, 1, 2] and rows[(5, 2)] == (801, 101)
    with _pytest.raises(ValueError):
        chunking.chunk_documents(docs, chunk_chars=100, overlap_chars=100)


def test_hourly_gapfill_locf_fills_gaps(spark):
    """Known 3-hour gap: generated rows get n_events=0, NULL mean, and the
    last observed mean carried forward; the first hour has no fill."""
    import datetime as dt

    from nbi_oedi_etl_spark.operators import gapfill

    t0 = dt.datetime(2024, 1, 1, 10, 30)
    rows = [
        ("a", t0, 2.0),
        ("a", t0.replace(minute=45), 4.0),           # 10:xx mean 3.0
        ("a", t0 + dt.timedelta(hours=4), 7.0),      # 14:xx mean 7.0
        ("b", t0 + dt.timedelta(hours=1), 1.0),      # single hour
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp_ntz, value double")
    out = gapfill.hourly_gapfill_locf(df, "key", "ts", "value")
    got = {
        (r["key"], r["hour"].hour): (r["n_events"], r["value_mean"], r["value_filled"])
        for r in out.collect()
    }
    assert len(got) == 6  # a: 10..14 dense (5 rows), b: 1 row
    assert got[("a", 10)] == (2, 3.0, 3.0)
    assert got[("a", 11)] == (0, None, 3.0)  # generated, LOCF
    assert got[("a", 12)] == (0, None, 3.0)
    assert got[("a", 13)] == (0, None, 3.0)
    assert got[("a", 14)] == (1, 7.0, 7.0)
    assert got[("b", 11)] == (1, 1.0, 1.0)


def test_blocked_fuzzy_self_join_blocks_and_threshold(spark):
    """Pairs only form inside a block; distance respects the threshold;
    cross-block near-identical strings are (by design) not compared."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators import fuzzy

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamm"),    # dist 1 to id1, same block
            (3, "alpha delta gamma"),  # dist 4 to id1, same block
            (4, "omega beta gamma"),   # other block though close to id1
            (5, "alpha " + "z" * 40),  # same block, far beyond threshold
        ],
        "id long, name string",
    )
    out = fuzzy.blocked_fuzzy_self_join(
        df, "id", "name", F.substring_index(F.col("name"), " ", 1), max_distance=4
    )
    pairs = {(r["id_a"], r["id_b"]): r["distance"] for r in out.collect()}
    # "beta"→"gamm" trims 1; "beta"→"delta" edits 2; 2↔3 differs by both
    assert pairs == {(1, 2): 1, (1, 3): 2, (2, 3): 3}
    assert (1, 4) not in pairs  # different block despite distance 4
    assert not any(5 in p for p in pairs)  # beyond threshold


def test_kmeans_lloyd_iteration_converges(spark):
    """Two crafted 2-D clusters, adversarial init (both centroids inside
    cluster A): one assignment+update round must already separate them,
    and a second round must converge to the true cluster means."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators import similarity

    pts = [(i, [0.0 + i * 0.01, 0.0]) for i in range(4)] + [
        (10 + i, [10.0 + i * 0.01, 10.0]) for i in range(4)
    ]
    corpus = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.05, 0.0])], "centroid_id long, embedding array<double>"
    )

    def update(assigned):
        return (
            assigned.join(corpus, "vec_id")
            .select("centroid_id", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
            .select(
                "centroid_id",
                F.transform("s", lambda e: e["m"]).alias("embedding"),
            )
        )

    for _ in range(2):
        assigned = similarity.kmeans_assignment_step(corpus, cents)
        cents = update(assigned)

    got = {r["centroid_id"]: r["embedding"] for r in cents.collect()}
    flat = [x for v in sorted(tuple(v) for v in got.values()) for x in v]
    assert flat == pytest.approx([0.015, 0.0, 10.015, 10.0])
    final = similarity.kmeans_assignment_step(corpus, cents)
    clusters = {
        r["vec_id"]: r["centroid_id"] for r in final.collect()
    }
    assert len({clusters[i] for i in range(4)}) == 1
    assert len({clusters[10 + i] for i in range(4)}) == 1
    assert clusters[0] != clusters[10]


# ------------------------------------------------------------ BMP codec


def test_bmp_encode_decode_roundtrip_exact_pixels():
    from nbi_oedi_etl_spark.operators import multimodal

    # width 3 → row 9 bytes → 3 pad bytes; height 2 exercises row order
    pixels = bytes(range(3 * 2 * 3))
    data = multimodal.encode_bmp(3, 2, pixels)
    w, h, c, out = multimodal.decode_bmp(data)
    assert (w, h, c) == (3, 2, 3)
    assert out == pixels


def test_bmp_nearest_neighbor_resize_hand_computed(spark):
    """resize_bmp_images on a crafted 4x2 image downsampled to 2x1: NN
    mapping picks src (0,0) and (2,0) — verified byte-for-byte."""
    from nbi_oedi_etl_spark.operators import multimodal

    # src pixels (top-down BGR): pixel (x,y) = [10*(y*4+x)]*3
    pixels = bytes(b for i in range(8) for b in [10 * i] * 3)
    payload = multimodal.encode_bmp(4, 2, pixels)
    df = spark.createDataFrame([(1, payload, "image/bmp")], "doc_id long, payload binary, mime string")
    out = multimodal.resize_bmp_images(df, 2, 1).collect()
    assert len(out) == 1
    w, h, c, pix = multimodal.decode_bmp(bytes(out[0]["payload"]))
    assert (w, h, c) == (2, 1, 3)
    # dst (0,0) <- src (0*4//2, 0*2//1) = (0,0) -> 0; dst (1,0) <- (2,0) -> 20
    assert pix == bytes([0, 0, 0, 20, 20, 20])


# ------------------------------------------------------------ PNG codec


def test_png_roundtrip_exercises_every_filter_type():
    from nbi_oedi_etl_spark.operators import multimodal

    # height 7 > 5 rows -> the encoder's y % 5 cycle hits none/sub/up/
    # average/paeth at least once; a wrong unfilter corrupts pixels
    pixels = bytes((i * 31 + 7) % 256 for i in range(6 * 7 * 3))
    data = multimodal.encode_png(6, 7, pixels)
    w, h, c, out = multimodal.decode_png(data)
    assert (w, h, c) == (6, 7, 3)
    assert out == pixels


def test_png_decode_independent_construction():
    """Decode a PNG assembled HERE from the spec (filter-0 scanlines,
    split IDAT) — independent of encode_png, so a matched encoder/decoder
    bug can't self-cancel."""
    import struct
    import zlib

    from nbi_oedi_etl_spark.operators import multimodal

    w, h = 2, 2
    pixels = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    raw = b"\x00" + pixels[:6] + b"\x00" + pixels[6:]  # filter 0 per row
    comp = zlib.compress(raw)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # split the IDAT stream across two chunks (legal per spec)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:7])
        + chunk(b"IDAT", comp[7:])
        + chunk(b"IEND", b"")
    )
    assert multimodal.decode_png(data) == (w, h, 3, pixels)


def test_png_decode_rejects_corruption_and_unsupported():
    import pytest as _pytest

    from nbi_oedi_etl_spark.operators import multimodal

    good = bytearray(multimodal.encode_png(3, 2, bytes(range(18))))
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside a chunk body -> CRC mismatch
    with _pytest.raises(ValueError):
        multimodal.decode_png(bytes(bad))
    with _pytest.raises(ValueError):
        multimodal.decode_png(b"not a png")
    # unsupported color type (grayscale) must be refused, not misparsed
    import struct
    import zlib as _zlib

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with _pytest.raises(ValueError):
        multimodal.decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_png_all_dimension_cases_roundtrip():
    from nbi_oedi_etl_spark.operators import multimodal

    for w in range(1, 14):
        for h in (1, 4, 7):
            pixels = bytes((i * 13 + w + h) % 256 for i in range(w * h * 3))
            assert multimodal.decode_png(multimodal.encode_png(w, h, pixels)) == (
                w,
                h,
                3,
                pixels,
            ), f"w={w} h={h}"


def test_wav_encode_decode_roundtrip():
    from nbi_oedi_etl_spark.operators import multimodal

    samples = [0, 1, -1, 32767, -32768, 1234, -4321]
    data = multimodal.encode_wav(16000, samples)
    rate, ch, out = multimodal.decode_wav(data)
    assert (rate, ch) == (16000, 1)
    assert out == samples


def test_wav_decode_walks_unknown_and_odd_chunks():
    """The parser must skip unknown chunks (with odd-size padding) placed
    BEFORE fmt/data — real WAV files carry LIST/INFO chunks."""
    from nbi_oedi_etl_spark.operators import multimodal

    samples = [100, -200, 300]
    data = multimodal.encode_wav(8000, samples)
    # splice an odd-sized unknown chunk right after the WAVE tag
    junk = b"LIST" + (5).to_bytes(4, "little") + b"junk!" + b"\x00"  # padded
    spliced = data[:12] + junk + data[12:]
    spliced = spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    rate, ch, out = multimodal.decode_wav(spliced)
    assert (rate, ch, out) == (8000, 1, samples)


def test_bmp_all_padding_widths_roundtrip():
    from nbi_oedi_etl_spark.operators import multimodal

    for width in range(1, 14):  # covers every (-3w) % 4 padding case
        pixels = bytes((i * 7 + 3) % 256 for i in range(width * 3 * 3))
        data = multimodal.encode_bmp(width, 3, pixels)
        w, h, c, out = multimodal.decode_bmp(data)
        assert (w, h, c) == (width, 3, 3)
        assert out == pixels, f"pixel mismatch at width={width}"


def test_bmp_decode_top_down_negative_height():
    from nbi_oedi_etl_spark.operators import multimodal

    pixels = bytes(range(2 * 2 * 3))
    data = bytearray(multimodal.encode_bmp(2, 2, pixels))
    # rewrite height to -2 (top-down) and swap the two stored rows so the
    # decoded image is unchanged
    data[22:26] = (-2).to_bytes(4, "little", signed=True)
    off = 54
    stride = 8  # 2*3 rounded up to 4-byte boundary
    r0, r1 = bytes(data[off : off + stride]), bytes(data[off + stride : off + 2 * stride])
    data[off : off + stride], data[off + stride : off + 2 * stride] = r1, r0
    w, h, c, out = multimodal.decode_bmp(bytes(data))
    assert (w, h, c) == (2, 2, 3)
    assert out == pixels


def test_bmp_decode_rejects_non_bmp_and_unsupported():
    import pytest as _pytest

    from nbi_oedi_etl_spark.operators import multimodal

    with _pytest.raises(ValueError):
        multimodal.decode_bmp(b"PNG....")
    data = bytearray(multimodal.encode_bmp(1, 1, b"\x01\x02\x03"))
    data[28:30] = (8).to_bytes(2, "little")  # 8 bpp unsupported
    with _pytest.raises(ValueError):
        multimodal.decode_bmp(bytes(data))


# ------------------------------------------------------------ sketches


def test_cms_upper_bound_and_hll_accuracy_large_vocab(spark):
    """On a 2000-token vocabulary (unlike the tiny testdata pool): CMS
    estimates must upper-bound true counts (the paper guarantee — min of
    d counters can only overcount), and the HLL estimate must land within
    the ~1.3/sqrt(64) ≈ 16% band (25% asserted for slack). This exercises
    the harmonic-mean branch, which the 31-token testdata (linear-counting
    regime) never reaches."""
    from nbi_oedi_etl_spark.operators import sketches

    docs = spark.range(2000).selectExpr(
        "id as doc_id",
        # doc i: tokens w<i> and w<i%97> — zipf-ish repetition, 2000 vocab
        "concat('w', id, ' w', id % 97, ' w', id % 97) as text",
    )
    cms = sketches.cms_topk_estimates(docs, depth=4, width=256, k=20).collect()
    assert len(cms) == 20
    for r in cms:
        assert r["cms_estimate"] >= r["true_count"], r

    hll = sketches.hll_distinct_estimate(docs, m=64).collect()[0]
    true, est = hll["true_distinct"], hll["hll_estimate"]
    assert true == 2000
    assert abs(est - true) / true < 0.25, (true, est)


def test_bloom_decontamination_upper_bounds_exact(spark):
    """Bloom membership has NO false negatives: per doc, the maybe-count
    must be >= the exact contamination count from the set-based query
    (and equal for most docs at this m/n ratio)."""
    from nbi_oedi_etl_spark import workload_ext6 as e6

    sf = "/root/testdata/sf0.01"
    exact = {
        (r["doc_id"]): r["n_contaminated"]
        for r in e6.cross_source_contamination(spark, sf).collect()
    }
    bloom = {
        (r["doc_id"]): r["n_maybe_contaminated"]
        for r in e6.bloom_decontamination(spark, sf).collect()
    }
    assert set(exact) == set(bloom)
    assert all(bloom[d] >= exact[d] for d in exact)
