"""Seeded input generator for the benchmark.

Every synthetic file and every query parameter comes from the workload seed;
the program under test only ever sees what this module writes. Tables have
the shape of the testdata `events` table (event_id, ts, user_id, event_type,
value, props) with exponential(mean 50) values at two decimals, which is what
the sf0.1 table holds.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])
ID_STRIDE = 1_000_000  # project_ids key = signal_id * ID_STRIDE + seq_no (Calls.IdStride)

# Sizes per workload: `interactive` has the size and shape of the sf0.1
# events table; `ingest_age` streams one day of readings per batch file.
SIZES = {
    "interactive": {"rows": 100_000, "signals": 1_500, "days": 30},
    "ingest_age": {"batch_rows": 4_000, "signals": 200, "batches": 8,
                   "batches_per_cycle": 1},
}
KINDS = {
    "interactive": ["range", "range_tier", "equal", "buff_range", "buff_sum",
                    "buff_max", "window_pos", "window_time", "zonemap_agg",
                    "project_ids", "last_per_signal", "cold_sum"],
    "ingest_age": ["range_tier", "zonemap_agg", "percentile_sketch", "cold_sum"],
}
PARAM_SETS = 2     # distinct parameter sets per parameterised kind
STREAM_ROUNDS = 200


def _events(rng, rows, signals, t0_us, span_us, first_id):
    """One events-shaped table, rows in event_id order with ts ascending."""
    ts = t0_us + np.sort(rng.integers(0, span_us, rows, dtype=np.int64))
    user = rng.integers(0, signals, rows, dtype=np.int64)
    value = np.round(rng.exponential(50.0, rows), 2)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)]
    props = PROPS[rng.integers(0, len(PROPS), rows)]
    return {
        "event_id": np.arange(first_id, first_id + rows, dtype=np.int64),
        "ts": ts, "user_id": user, "event_type": etype, "value": value,
        "props": props,
    }


def _write(cols, path):
    table = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"].astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })
    pq.write_table(table, path, compression="snappy")


def _seq_no(cols):
    """Per-signal position ordered by (ts, event_id), 1-based, as Readings.of."""
    order = np.lexsort((cols["event_id"], cols["ts"], cols["user_id"]))
    users = cols["user_id"][order]
    starts = np.r_[0, np.flatnonzero(np.diff(users)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, len(users)]))
    seq = np.empty(len(users), dtype=np.int64)
    seq[order] = np.arange(len(users)) - run_start + 1
    return seq


def _quantize(value):
    return np.floor(value * 100.0).astype(np.int64)


def _range_params(rng, q):
    """[lo, hi] fixed-point bounds covering 1-10 % of the rows."""
    qs = np.sort(q)
    out = []
    for _ in range(PARAM_SETS):
        share = rng.uniform(0.01, 0.10)
        start = rng.uniform(0.0, 1.0 - share)
        lo = int(qs[int(start * (len(qs) - 1))])
        hi = int(qs[int((start + share) * (len(qs) - 1))])
        out.append({"lo": lo, "hi": max(hi, lo)})
    return out


def _batch_params(rng, cols):
    """Parameter sets of the interactive workload."""
    q = _quantize(cols["value"])
    seq = _seq_no(cols)
    keys = cols["user_id"] * ID_STRIDE + seq
    max_seq = int(np.median(np.bincount(cols["user_id"])))
    params = {k: [{}] for k in KINDS["interactive"]}
    params["range"] = _range_params(rng, q)
    params["range_tier"] = _range_params(rng, q)
    params["buff_range"] = _range_params(rng, q)
    params["equal"] = [{"q": int(q[rng.integers(0, len(q))])} for _ in range(PARAM_SETS)]
    windows = []
    for width in rng.choice([4, 8, 16, 32], PARAM_SETS, replace=False):
        start = int(rng.integers(0, max(1, max_seq // 2)))
        span = int(width) * int(rng.integers(2, 8))
        windows.append({"start": start, "end": start + span, "width": int(width)})
    params["window_pos"] = windows
    params["window_time"] = [{"width": w} for w in
                             rng.choice(["1 hour", "6 hours", "1 day", "30 minutes"],
                                        PARAM_SETS, replace=False)]
    params["project_ids"] = [
        {"selectivity": s,
         "ids": sorted(int(k) for k in rng.choice(keys, max(1, int(round(s * len(keys)))),
                                                  replace=False))}
        for s in (0.001, 0.01, 0.1)]
    params["cold_sum"] = [{"tier": "tier2_sum"}, {"tier": "tier3_max"}]
    return params


def _ingest_params(rng):
    params = {k: [{}] for k in KINDS["ingest_age"]}
    # bounds on the exponential(50) value law, 1-10 % of the mass each
    ranges = []
    for _ in range(PARAM_SETS):
        share = rng.uniform(0.01, 0.10)
        start = rng.uniform(0.0, 0.95 - share)
        lo = int(np.floor(-50.0 * np.log(1.0 - start) * 100.0))
        hi = int(np.floor(-50.0 * np.log(1.0 - start - share) * 100.0))
        ranges.append({"lo": lo, "hi": hi})
    params["range_tier"] = ranges
    params["percentile_sketch"] = [{"ps": p} for p in ([0.5, 0.9], [0.25, 0.75, 0.99])]
    params["cold_sum"] = [{"tier": "tier2_sum"}, {"tier": "tier3_max"}]
    return params


def _stream(rng, params):
    """Seeded query stream: rounds, each a permutation of every kind once, and
    each kind cycling through its parameter sets, so that every seed runs the
    same mix of kinds and sets and only the values and the order differ."""
    kinds = sorted(params)
    out = []
    for r in range(STREAM_ROUNDS):
        for k in rng.permutation(kinds):
            out.append([str(k), r % len(params[k])])
    return out


def generate(workload, seed, out_dir, size=None):
    """Write the inputs of `workload` for `seed` under out_dir; return the spec.

    `size` replaces the workload's SIZES entry (build.py trains on tiny inputs).
    """
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    size = size or SIZES[workload]
    os.makedirs(out_dir, exist_ok=True)
    spec = {"workload": workload, "seed": seed, "sizes": dict(size)}
    if workload == "ingest_age":
        batch_dir = os.path.join(out_dir, "batches")
        os.makedirs(batch_dir)
        for b in range(size["batches"]):
            cols = _events(rng, size["batch_rows"], size["signals"],
                           EPOCH_US + b * DAY_US, DAY_US, b * size["batch_rows"])
            _write(cols, os.path.join(batch_dir, f"batch-{b:05d}.parquet"))
        spec.update(batch_dir=batch_dir, epoch_us=EPOCH_US, day_us=DAY_US)
        params = _ingest_params(rng)
    else:
        cols = _events(rng, size["rows"], size["signals"], EPOCH_US,
                       size["days"] * DAY_US, 0)
        _write(cols, os.path.join(out_dir, "events.parquet"))
        params = _batch_params(rng, cols)
        # tier1 takes the readings of the first two thirds of the days
        cutoff_us = EPOCH_US + size["days"] * 2 // 3 * DAY_US
        spec.update(data_dir=out_dir, cutoff_us=cutoff_us)
    spec["params"] = params
    spec["stream"] = _stream(rng, params)
    return spec


def fingerprint(out_dir, spec):
    """sha256 over every generated file (by relative path) and the query stream."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(out_dir)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    h.update(json.dumps([spec["params"], spec["stream"]], sort_keys=True).encode())
    return h.hexdigest()
