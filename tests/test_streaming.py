"""Incremental (Structured Streaming) ingestion: exactly-once epochs,
byte-identity with the batch kernels, watermarked windowed counts."""

import os

import pandas as pd
import pytest

from win64_local_ocr_tool_spark.corpus import corpus_pandas
from win64_local_ocr_tool_spark.golden import golden_pandas
from win64_local_ocr_tool_spark.streaming.incremental import (
    incremental_extraction,
    read_stream_output,
    windowed_ingest_counts,
)


def _land(pdf: pd.DataFrame, input_dir: str, name: str) -> None:
    os.makedirs(input_dir, exist_ok=True)
    # Spark's timestamp type is microseconds; pandas defaults to ns
    pdf.to_parquet(
        os.path.join(input_dir, name),
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


@pytest.fixture()
def dirs(tmp_path):
    return {
        "in": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
        "lineage": str(tmp_path / "lineage"),
    }


def test_incremental_two_arrivals_no_dupes(spark, dirs):
    """Second drain processes ONLY newly-landed files; totals are exact
    and every row matches the golden extractor byte-for-byte."""
    _land(corpus_pandas(range(0, 120)), dirs["in"], "a.parquet")
    incremental_extraction(
        spark, dirs["in"], dirs["out"], dirs["ckpt"],
        lineage_dir=dirs["lineage"],
    )
    assert read_stream_output(spark, dirs["out"]).count() == 120

    _land(corpus_pandas(range(120, 200)), dirs["in"], "b.parquet")
    incremental_extraction(
        spark, dirs["in"], dirs["out"], dirs["ckpt"],
        lineage_dir=dirs["lineage"],
    )
    got = (
        read_stream_output(spark, dirs["out"])
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert len(got) == 200
    assert got["url"].is_unique

    want = golden_pandas(200).sort_values("url").reset_index(drop=True)
    assert list(got["extracted_text"]) == list(want["extracted_text"])
    assert list(got["status"]) == list(want["status"])

    lin = spark.read.parquet(dirs["lineage"]).toPandas()
    assert set(lin["stage"]) == {"stream_extract"}
    assert lin["n_rows"].sum() == 200
    # counters and wall time are taken during each epoch's write
    assert (lin["wall_ms"] > 0).all()


def test_incremental_epoch_bounding(spark, dirs):
    """maxFilesPerTrigger bounds epoch size: 3 files -> 3 epochs."""
    for k in range(3):
        _land(
            corpus_pandas(range(k * 40, (k + 1) * 40)),
            dirs["in"],
            f"f{k}.parquet",
        )
    incremental_extraction(
        spark, dirs["in"], dirs["out"], dirs["ckpt"],
        max_files_per_trigger=1,
    )
    epochs = [d for d in os.listdir(dirs["out"]) if d.startswith("epoch=")]
    assert len(epochs) == 3
    assert read_stream_output(spark, dirs["out"]).count() == 120


def test_windowed_counts_with_watermark(spark, dirs):
    """Tumbling 1h windows over warc_ts (rows are 137s apart, so ~26-27
    rows per hour window); total preserved; window starts hour-aligned."""
    _land(corpus_pandas(range(0, 100)), dirs["in"], "a.parquet")
    q = (
        windowed_ingest_counts(spark, dirs["in"])
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from win_counts").toPandas()
    assert got["n"].sum() == 100
    assert (got["window_start"].dt.minute == 0).all()
    assert (got["window_start"].dt.second == 0).all()
    # batch twin of the same aggregation agrees per window
    batch = (
        spark.read.parquet(os.path.join(dirs["in"], "a.parquet"))
        .groupBy("lang")
        .count()
        .toPandas()
    )
    stream_by_lang = got.groupby("lang")["n"].sum()
    for _, r in batch.iterrows():
        assert stream_by_lang[r["lang"]] == r["count"]


def test_skip_seen_urls_drops_recrawls(spark, dirs):
    """Re-crawled urls in later arrivals are dropped when
    skip_seen_urls is on; fresh urls still extract."""
    from win64_local_ocr_tool_spark.streaming.incremental import (
        incremental_extraction as run,
    )

    _land(corpus_pandas(range(0, 60)), dirs["in"], "a.parquet")
    run(spark, dirs["in"], dirs["out"], dirs["ckpt"], skip_seen_urls=True)
    assert read_stream_output(spark, dirs["out"]).count() == 60

    # second arrival: 40 re-crawls (0..39) + 30 fresh (60..89)
    overlap = corpus_pandas(list(range(0, 40)) + list(range(60, 90)))
    _land(overlap, dirs["in"], "b.parquet")
    run(spark, dirs["in"], dirs["out"], dirs["ckpt"], skip_seen_urls=True)
    got = read_stream_output(spark, dirs["out"]).toPandas()
    assert len(got) == 90
    assert got["url"].is_unique


def test_stateful_running_totals_across_restarts(spark, dirs, tmp_path):
    """applyInPandasWithState: per-user running totals survive a query
    restart via the checkpointed state store, and the final totals
    equal the batch groupBy twin exactly (scaled-integer state)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from win64_local_ocr_tool_spark.streaming.stateful import (
        drain_running_totals,
        latest_totals,
    )

    def events(lo, hi):
        return pd.DataFrame(
            {
                "event_id": range(lo, hi),
                "ts": pd.to_datetime("2025-01-01")
                + pd.to_timedelta(range(lo, hi), unit="m"),
                "user_id": [i % 5 for i in range(lo, hi)],
                "event_type": ["view"] * (hi - lo),
                "value": [round((i % 37) * 0.25, 2) for i in range(lo, hi)],
            }
        )

    _land(events(0, 200), dirs["in"], "e1.parquet")
    drain_running_totals(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    # restart with more data: state must carry the first drain's counts
    _land(events(200, 300), dirs["in"], "e2.parquet")
    drain_running_totals(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    final = (
        latest_totals(spark, dirs["out"])
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double"
        )
        .parquet(dirs["in"])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        final.astype("int64"), want.astype("int64")
    )


def test_stateful_sessions_match_batch_twin(spark, dirs):
    """Session windows via applyInPandasWithState: closed + open
    sessions reconstructed across two time-ordered epochs must equal
    the batch sessionize logic (same 1800s gap) on the full data —
    including a session that SPANS the epoch boundary and one that the
    second epoch's first event closes."""
    import pandas as pd
    from pyspark.sql import functions as F
    from win64_local_ocr_tool_spark.streaming.stateful import (
        drain_sessions,
        final_sessions,
    )

    base = pd.Timestamp("2025-01-01")

    def ev(eid, user, minutes):
        return {
            "event_id": eid,
            "ts": base + pd.to_timedelta(minutes, unit="m"),
            "user_id": user,
            "event_type": "view",
            "value": 1.0,
        }

    # user 1: session A (0-10m), gap, session B starts 120m and SPANS
    #   the epoch split (continues at 125m in epoch 2)
    # user 2: session C (0-5m); epoch 2 first event at 200m closes it
    e1 = pd.DataFrame(
        [ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 120),
         ev(4, 2, 0), ev(5, 2, 5)]
    )
    e2 = pd.DataFrame(
        [ev(6, 1, 125), ev(7, 1, 126), ev(8, 2, 200)]
    )
    _land(e1, dirs["in"], "e1.parquet")
    drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    _land(e2, dirs["in"], "e2.parquet")
    drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    got = (
        final_sessions(spark, dirs["out"])
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    # expected sessions over the union of both epochs
    want = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 2],
            "start_m": [0, 120, 0, 200],
            "end_m": [10, 126, 5, 200],
            "n_events": [2, 3, 2, 1],
            "closed": [True, False, True, False],
        }
    )
    assert list(got["user_id"]) == list(want["user_id"])
    assert list(got["n_events"]) == list(want["n_events"])
    assert list(got["closed"]) == list(want["closed"])
    for i in range(len(want)):
        assert got["session_start"][i] == base + pd.to_timedelta(
            want["start_m"][i], unit="m"
        )
        assert got["session_end"][i] == base + pd.to_timedelta(
            want["end_m"][i], unit="m"
        )

    # per-user session COUNTS equal the batch sessionize twin
    full = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    ).parquet(dirs["in"])
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    win = w.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(win))
    batch = (
        full.withColumn(
            "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"))
        .toPandas()
        .set_index("user_id")["n_sessions"]
    )
    stream_counts = got.groupby("user_id").size()
    for uid in batch.index:
        assert stream_counts[uid] == batch[uid]


def test_stateful_sessions_randomized_vs_reference(spark, dirs):
    """Randomized stress: arbitrary per-user event times split into
    three time-ordered epochs must reproduce exactly the sessions a
    single-pass reference sessionizer computes over the full stream."""
    import numpy as np
    import pandas as pd
    from win64_local_ocr_tool_spark.streaming.stateful import (
        SESSION_GAP_S,
        drain_sessions,
        final_sessions,
    )

    rng = np.random.default_rng(1234)
    base = pd.Timestamp("2025-01-01")
    rows = []
    eid = 0
    for user in range(6):
        t = 0
        for _ in range(rng.integers(5, 40)):
            # mix of sub-gap and super-gap steps
            t += int(rng.choice([30, 300, 1800, 1801, 5000, 60]))
            rows.append(
                {
                    "event_id": eid,
                    "ts": base + pd.to_timedelta(t, unit="s"),
                    "user_id": user,
                    "event_type": "view",
                    "value": 1.0,
                }
            )
            eid += 1
    df = pd.DataFrame(rows).sort_values("ts").reset_index(drop=True)
    cuts = [len(df) // 3, 2 * len(df) // 3]
    _land(df.iloc[: cuts[0]], dirs["in"], "e1.parquet")
    drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    _land(df.iloc[cuts[0] : cuts[1]], dirs["in"], "e2.parquet")
    drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])
    _land(df.iloc[cuts[1] :], dirs["in"], "e3.parquet")
    drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    got = (
        final_sessions(spark, dirs["out"])
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )

    # single-pass reference over the full ordered stream
    want = []
    for user, g in df.groupby("user_id"):
        ts = sorted(int(x.timestamp()) for x in g["ts"])
        start = last = ts[0]
        n = 1
        for t in ts[1:]:
            if t - last > SESSION_GAP_S:
                want.append((user, start, last, n))
                start, n = t, 0
            last = t
            n += 1
        want.append((user, start, last, n))
    want.sort()
    assert len(got) == len(want)
    for i, (user, start, end, n) in enumerate(want):
        assert got["user_id"][i] == user
        assert int(got["session_start"][i].timestamp()) == start, (i, want[i])
        assert int(got["session_end"][i].timestamp()) == end
        assert got["n_events"][i] == n
    # exactly one open session per user (the tail), everything else closed
    open_per_user = got[~got["closed"]].groupby("user_id").size()
    assert (open_per_user == 1).all()


@pytest.mark.parametrize("offset", [-1, 0, 1])
def test_stateful_sessions_exact_gap_boundaries(spark, tmp_path, offset):
    """Adversarial hardening of the random stress (VERDICT r2 item 8):
    consecutive events exactly SESSION_GAP_S + offset seconds apart —
    the gap-comparison boundary, where `> gap` vs `>= gap` drift or an
    epoch-split state bug would flip the answer — with the epoch cut
    swept across EVERY event position. At offset <= 0 all events share
    one session; at +1 every event opens its own. Each sweep position
    replays the stream from scratch (fresh checkpoint) and must match
    the single-pass expectation regardless of where the cut lands."""
    from win64_local_ocr_tool_spark.streaming.stateful import (
        SESSION_GAP_S,
        drain_sessions,
        final_sessions,
    )

    base = pd.Timestamp("2025-01-01")
    step = SESSION_GAP_S + offset
    n = 5
    df = pd.DataFrame(
        [
            {
                "event_id": i,
                "ts": base + pd.to_timedelta(i * step, unit="s"),
                "user_id": 1,
                "event_type": "view",
                "value": 1.0,
            }
            for i in range(n)
        ]
    )
    for cut in range(1, n):
        d = tmp_path / f"cut{cut}"
        dirs = {k: str(d / k) for k in ("in", "out", "ckpt")}
        _land(df.iloc[:cut], dirs["in"], "e1.parquet")
        drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])
        _land(df.iloc[cut:], dirs["in"], "e2.parquet")
        drain_sessions(spark, dirs["in"], dirs["out"], dirs["ckpt"])
        got = (
            final_sessions(spark, dirs["out"])
            .toPandas()
            .sort_values("session_start")
            .reset_index(drop=True)
        )
        if offset <= 0:
            assert len(got) == 1, (cut, got)
            assert got["n_events"][0] == n
            assert int(
                (got["session_end"][0] - got["session_start"][0]).total_seconds()
            ) == (n - 1) * step
        else:
            assert len(got) == n, (cut, got)
            assert list(got["n_events"]) == [1] * n
        # the tail session is open; all earlier ones closed
        assert list(got["closed"]) == [True] * (len(got) - 1) + [False]
        # batch twin equality on session count
        full = spark.read.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        ).parquet(dirs["in"])
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        win = W.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(win))
        n_batch = (
            full.withColumn(
                "new_s",
                F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0),
            )
            .agg(F.sum("new_s"))
            .collect()[0][0]
        )
        assert n_batch == len(got), (cut, n_batch, len(got))


def test_stateful_dedup_matches_batch_twin_any_order(spark, dirs):
    """Streaming exact dedup: three shuffled epochs, a fresh query
    (checkpoint-recovered state) per drain. min/count state merges are
    order-free, so the final table must EQUAL the batch
    groupBy(md5(text)) twin — same fp, n_dups, min-id representative —
    despite arrival order scrambling doc_ids across epochs."""
    import hashlib

    import numpy as np

    from win64_local_ocr_tool_spark.streaming.stateful import (
        drain_dedup_exact,
        latest_dedup,
    )

    rng = np.random.default_rng(5)
    texts = [f"document body {i} " + "pad " * (i % 7) for i in range(80)]
    assign = rng.integers(0, 80, size=300)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(300, dtype="int64"),
            "text": [texts[a] for a in assign],
            "lang": "en",
            "source": "stream",
            "n_chars": np.array(
                [len(texts[a]) for a in assign], dtype="int64"
            ),
        }
    )
    order = rng.permutation(300)
    for k, chunk in enumerate(np.array_split(order, 3)):
        _land(
            pdf.iloc[chunk].reset_index(drop=True),
            dirs["in"],
            f"e{k}.parquet",
        )
        drain_dedup_exact(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    got = (
        latest_dedup(spark, dirs["out"])
        .toPandas()
        .sort_values("fp")
        .reset_index(drop=True)
    )
    twin = pdf.assign(
        fp=[hashlib.md5(t.encode()).hexdigest() for t in pdf["text"]]
    )
    want = (
        twin.groupby("fp")
        .agg(n_dups=("doc_id", "size"), representative=("doc_id", "min"))
        .reset_index()
        .sort_values("fp")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == pdf["text"].nunique()
    pd.testing.assert_frame_equal(
        got.astype({"n_dups": "int64", "representative": "int64"}), want
    )
    # dup structure really was planted: more docs than distinct texts
    assert want["n_dups"].sum() == 300 and (want["n_dups"] > 1).any()


@pytest.mark.parametrize("n_epochs", [1, 5])
def test_stateful_dedup_epoch_split_invariance(spark, tmp_path, n_epochs):
    """The dedup table must be IDENTICAL whether the same shuffled doc
    set arrives as one epoch or five (checkpoint-recovered query per
    epoch) — the order-free-merge claim as a split-invariance property."""
    import hashlib

    import numpy as np

    from win64_local_ocr_tool_spark.streaming.stateful import (
        drain_dedup_exact,
        latest_dedup,
    )

    rng = np.random.default_rng(11)
    texts = [f"body {i}" for i in range(40)]
    assign = rng.integers(0, 40, size=150)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(150, dtype="int64"),
            "text": [texts[a] for a in assign],
            "lang": "en",
            "source": "s",
            "n_chars": np.array(
                [len(texts[a]) for a in assign], dtype="int64"
            ),
        }
    )
    d = {
        "in": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    order = rng.permutation(150)
    for k, chunk in enumerate(np.array_split(order, n_epochs)):
        _land(
            pdf.iloc[chunk].reset_index(drop=True), d["in"], f"e{k}.parquet"
        )
        drain_dedup_exact(spark, d["in"], d["out"], d["ckpt"])
    got = (
        latest_dedup(spark, d["out"])
        .toPandas()
        .sort_values("fp")
        .reset_index(drop=True)
    )
    twin = pdf.assign(
        fp=[hashlib.md5(t.encode()).hexdigest() for t in pdf["text"]]
    )
    want = (
        twin.groupby("fp")
        .agg(n_dups=("doc_id", "size"), representative=("doc_id", "min"))
        .reset_index()
        .sort_values("fp")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"n_dups": "int64", "representative": "int64"}), want
    )


@pytest.mark.parametrize("n_epochs", [1, 4])
def test_streaming_neardup_epoch_split_invariance(spark, tmp_path, n_epochs):
    """Streaming NEAR-dup dedup (r4 verdict item 5): the sf0.001 corpus
    (which plants near-dup clusters) arrives SHUFFLED across 1 or 4
    epochs, a fresh checkpoint-recovered query per drain. Within any
    bucket each epoch's members connect among themselves (bounded
    pairs) and to the representative-so-far (one bridge edge), so full
    bucket connectivity — hence min-label components, hence the kept
    set — must EQUAL the batch dedup_canonical_docs twin under any
    split/order."""
    import numpy as np

    from win64_local_ocr_tool_spark.operators.registry import QUERIES as REG
    from win64_local_ocr_tool_spark.streaming.neardup import (
        drain_dedup_near,
        near_dedup_components,
        near_dedup_kept,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pdf = docs.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).toPandas()
    rng = np.random.default_rng(31 + n_epochs)
    order = rng.permutation(len(pdf))
    d_in = str(tmp_path / "in")
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")
    for k, chunk in enumerate(np.array_split(order, n_epochs)):
        _land(pdf.iloc[chunk].reset_index(drop=True), d_in, f"e{k}.parquet")
        drain_dedup_near(spark, d_in, work, ckpt)

    comps = near_dedup_components(spark, work)
    kept = {
        r["doc_id"] for r in near_dedup_kept(docs, comps).collect()
    }
    want = {
        r["doc_id"]
        for r in REG["dedup_canonical_docs"](spark, sf).collect()
    }
    assert kept == want
    # dedup structure really planted: clusters collapsed
    assert len(kept) < docs.count()
    # min-label discipline: every component label is a kept member
    comp_rows = comps.collect()
    labels = {r["component"] for r in comp_rows}
    assert labels <= kept
    for r in comp_rows:
        assert r["component"] <= r["doc_id"]


def test_stream_neardup_cli_smoke(spark, tmp_path):
    """The spark-submit surface for the near-dup upsert: land two
    increments, run the CLI per increment, assert the drop count
    equals the batch twin's."""
    import json
    import os
    import subprocess
    import sys

    import numpy as np

    from win64_local_ocr_tool_spark.operators.textops import (
        dedup_components,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pdf = docs.select("doc_id", "text", "lang", "source", "n_chars").toPandas()
    order = np.random.default_rng(7).permutation(len(pdf))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d_in, work, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "work"), str(tmp_path / "ckpt")
    )
    out = None
    for k, chunk in enumerate(np.array_split(order, 2)):
        _land(pdf.iloc[chunk].reset_index(drop=True), d_in, f"e{k}.parquet")
        proc = subprocess.run(
            [
                sys.executable, "-m", "win64_local_ocr_tool_spark.jobs",
                "stream-neardup", "--input", d_in, "--workdir", work,
                "--checkpoint", ckpt, "--master", "local[4]",
            ],
            capture_output=True, text=True, timeout=600, cwd=repo,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
    comp = dedup_components(spark, sf)
    want_drops = comp.filter("doc_id <> component").count()
    assert out["n_near_dup_drops"] == want_drops > 0
