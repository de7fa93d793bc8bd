"""Seeded synthesizer for the benchmark's inputs.

Writes raw VESC Tool logs (FIXTURES.md section 1: semicolon-delimited,
55 named fields, trailing semicolon, ride date in the file name) and a
Label Studio export (section 4: one JSON range list per `conf_*` cell),
together with the facts the engine's output must agree with: raw and grid
rows per ride, kept windows, timeline rows and annotation ranges.

Every raw log carries the planted features the reader and resampler must
handle: a duplicate `ms_today`, a gap of at most 250 ms, a gap of more
than 250 ms and an out-of-order row. A malformed numeric cell is planted
only in the separate `probe` log: the engine's reader fails on it (see
perfbench/LAYERS.md, "Known defect"), so the timed workloads leave it out
and every run reports the probe's outcome instead.

The same seed gives the same bytes: all randomness derives from one
`random.Random` stream seeded with the workload and seed, and no wall
clock is read. `perfbench/run.py` calls `generate`.
"""

import bisect
import csv
import datetime as dt
import io
import json
import math
import os
import random

import numpy as np

FIELDS = [
    "ms_today", "input_voltage", "temp_mos_max", "temp_mos_1", "temp_mos_2",
    "temp_mos_3", "temp_motor", "current_motor", "current_in", "d_axis_current",
    "q_axis_current", "erpm", "duty_cycle", "amp_hours_used", "amp_hours_charged",
    "watt_hours_used", "watt_hours_charged", "tachometer", "tachometer_abs",
    "encoder_position", "fault_code", "vesc_id", "d_axis_voltage", "q_axis_voltage",
    "ms_today_setup", "amp_hours_setup", "amp_hours_charged_setup",
    "watt_hours_setup", "watt_hours_charged_setup", "battery_level",
    "battery_wh_tot", "current_in_setup", "current_motor_setup",
    "speed_meters_per_sec", "tacho_meters", "tacho_abs_meters", "num_vescs",
    "ms_today_imu", "roll", "pitch", "yaw", "accX", "accY", "accZ", "gyroX",
    "gyroY", "gyroZ", "gnss_posTime", "gnss_lat", "gnss_lon", "gnss_alt",
    "gnss_gVel", "gnss_vVel", "gnss_hAcc", "gnss_vAcc",
]
assert len(FIELDS) == 55

# Integer-valued fields; every other field is a smooth signal plus noise.
INT_FIELDS = {"ms_today", "tachometer", "tachometer_abs", "fault_code",
              "vesc_id", "ms_today_setup", "num_vescs", "ms_today_imu",
              "gnss_posTime"}

BEHAVIORS = ["accel", "brake", "cruise", "turn_left", "turn_right",
             "carve_left", "carve_right", "ascent", "descent",
             "traction_loss", "idle", "forward", "reverse"]

STEP_MS = 100          # resampler grid step
MAX_GAP_MS = 250       # wider gaps are voided on the grid
WINDOW = 30            # window assembler: steps per window
STRIDE = 5             # window assembler: stride
MIN_VALID = 0.7        # window assembler: minimum finite-cell ratio
N_FEATURES = 24        # model input channels


def _ride_start(rng, minutes):
    """A ride date and a start time that ends before midnight."""
    day = dt.date(2025, 1, 1) + dt.timedelta(days=rng.randrange(365))
    latest_start_s = 24 * 3600 - minutes * 60 - 3600
    start_s = rng.randrange(6 * 3600, latest_start_s)
    return day, start_s * 1000


def log_name(day, start_ms, suffix=""):
    s = start_ms // 1000
    return "%s_%02d-%02d-%02d%s.csv" % (
        day.isoformat(), s // 3600, s // 60 % 60, s % 60, suffix)


def ride_log(rng, minutes, malformed=False):
    """One raw log: returns (file bytes, facts dict).

    Samples arrive every 50 ms (about 20 Hz) with +-10 ms jitter. The
    first row sits exactly on the start, so the 10 Hz grid is anchored
    there.
    """
    day, start = _ride_start(rng, minutes)
    n = minutes * 60 * 20
    ms = [start + 50 * i + (rng.randint(-10, 10) if i else 0) for i in range(n)]
    # the malformed cell's row: an odd index with no jitter is off the
    # grid, so the null it should become never lands on a grid row
    bad = (n // 2) | 1
    ms[bad] = start + 50 * bad
    small_gap = n // 4              # 3 samples missing: ~200 ms, interpolated
    big_gap = (n * 3) // 5          # 39 samples missing: ~2 s, voided
    dropped = set(range(small_gap, small_gap + 3)) | set(range(big_gap, big_gap + 39))
    assert bad not in dropped

    # one column per field; float fields are a smooth signal plus noise
    noise_rng = np.random.Generator(np.random.PCG64(rng.getrandbits(64)))
    t = np.array(ms, dtype=np.float64)
    el = (t - start) / 1000.0
    cols = np.empty((n, len(FIELDS)))
    for c, f in enumerate(FIELDS):
        if f in ("ms_today", "ms_today_setup", "ms_today_imu", "gnss_posTime"):
            cols[:, c] = t
        elif f in ("tachometer", "tachometer_abs"):
            cols[:, c] = np.arange(n) * 3
        elif f == "fault_code":
            cols[:, c] = 0
        elif f == "vesc_id":
            cols[:, c] = 12
        elif f == "num_vescs":
            cols[:, c] = 1
        else:
            base, amp = rng.uniform(-50, 50), rng.uniform(0.5, 20)
            period, phase = rng.uniform(20, 600), rng.uniform(0, 2 * math.pi)
            noise = rng.uniform(0.01, 1)
            cols[:, c] = (base + amp * np.sin(2 * np.pi * el / period + phase)
                          + noise * (noise_rng.random(n) - 0.5))
    fmt = ";".join("%d" if f in INT_FIELDS else "%.4f" for f in FIELDS) + ";\n"
    values = cols.tolist()
    is_float = [f not in INT_FIELDS for f in FIELDS]

    rows = []
    for i in range(n):
        if i in dropped:
            continue
        line = fmt % tuple(values[i])
        if malformed and i == bad:
            cells = line.split(";")
            cells[FIELDS.index("current_motor")] = "1.2.3"
            line = ";".join(cells)
        rows.append(line)
        if i == (n * 2) // 5:
            # planted duplicate ms_today with different values (keep-first)
            rows.append(fmt % tuple(v + 0.5 if fl else v
                                    for v, fl in zip(values[i], is_float)))
    # planted out-of-order pair near the end of the ride
    j = (len(rows) * 4) // 5
    rows[j], rows[j + 1] = rows[j + 1], rows[j]

    out = io.StringIO()
    out.write(";".join(FIELDS) + ";\n")
    out.writelines(rows)

    real = sorted({ms[i] for i in range(n) if i not in dropped})
    facts = {"day": day.isoformat(), "start_ms": start, "raw_rows": len(rows),
             "malformed_cells": 1 if malformed else 0}
    facts.update(grid_facts(real))
    return out.getvalue().encode("ascii"), facts


def grid_facts(real):
    """What the resampler and window assembler must produce for one ride,
    given its sorted, de-duplicated real sample instants."""
    first, last = real[0], real[-1]
    grid = list(range(first, last + 1, STEP_MS))
    real_set = set(real)
    voided = []
    for g in grid:
        if g in real_set:
            voided.append(0)
            continue
        k = bisect.bisect_left(real, g)
        voided.append(1 if real[k] - real[k - 1] > MAX_GAP_MS else 0)
    n_grid = len(grid)
    assert n_grid == (last - first) // STEP_MS + 1
    candidates = kept = 0
    for s in range(0, n_grid - WINDOW + 1, STRIDE):
        candidates += 1
        valid = (WINDOW - sum(voided[s:s + WINDOW])) * N_FEATURES
        if valid / (WINDOW * N_FEATURES) >= MIN_VALID:
            kept += 1
    return {"first_ms": first, "last_ms": last, "grid_rows": n_grid,
            "voided_rows": sum(voided), "candidate_windows": candidates,
            "windows": kept,
            # 0.5 s window spacing makes the display step 1: one timeline
            # row per kept window
            "timeline_rows": kept}


def _utc(day, ms):
    t = (dt.datetime(day.year, day.month, day.day)
         + dt.timedelta(milliseconds=ms))
    return t.strftime("%Y-%m-%d %H:%M:%S.") + "%03d" % (t.microsecond // 1000)


def label_studio(rng, ride, n_random):
    """A Label Studio export labeling one ride.

    Ranges are absolute UTC timestamps inside the ride, the clock of the
    production grid's `ts_utc`. There are `n_random` random ranges plus
    the planted cases: overlapping ranges on one behavior, a conflicting
    pair within an exclusivity group, a cross-group conflict, an exact tie
    and one range without `number` (which the reader drops). Returns
    (file bytes, ranges the reader keeps).
    """
    day = dt.date.fromisoformat(ride["day"])
    lo, hi = ride["first_ms"], ride["last_ms"]
    cells = {b: [] for b in BEHAVIORS}

    def add(b, t0, t1, number=None, skip=False):
        item = {"start": _utc(day, t0), "end": _utc(day, t1),
                "instant": False, "timeserieslabels": ["cf_" + b]}
        if not skip:
            item["number"] = round(rng.random(), 3) if number is None else number
        cells[b].append(item)

    for b in BEHAVIORS:                      # every behavior gets a range
        t0 = rng.randrange(lo, hi - 10_000)
        add(b, t0, t0 + rng.randrange(1_000, 8_000))
    for _ in range(n_random):
        t0 = rng.randrange(lo, hi - 10_000)
        add(rng.choice(BEHAVIORS), t0, t0 + rng.randrange(1_000, 8_000))
    mid = (lo + hi) // 2
    add("cruise", mid, mid + 6_000)               # overlapping pair,
    add("cruise", mid + 2_000, mid + 9_000)       # last one wins
    add("turn_left", mid, mid + 3_000, 0.8)       # conflict in a group
    add("carve_left", mid, mid + 3_000, 0.6)
    add("traction_loss", mid, mid + 2_000, 0.7)   # cross-group conflict
    add("accel", mid + 4_000, mid + 5_000, 0.5)   # exact tie
    add("brake", mid + 4_000, mid + 5_000, 0.5)
    add("idle", lo + 1_000, lo + 2_000, skip=True)

    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(["annotation_id", "annotator", "behaviors"] +
               ["conf_" + b for b in BEHAVIORS] +
               ["created_at", "csv", "id", "lead_time", "updated_at"])
    w.writerow([1, 1, json.dumps(BEHAVIORS)] +
               [json.dumps(cells[b]) for b in BEHAVIORS] +
               ["2025-10-01T12:00:00Z", ride["name"], 1, 42.0,
                "2025-10-01T12:05:00Z"])
    kept = sum(1 for b in BEHAVIORS for it in cells[b] if "number" in it)
    return out.getvalue().encode("utf-8"), kept


# Rides per workload, lengths in minutes. The first ride is also the one
# the traced run cuts into layers and labels; the traced `long_ride` run
# warms up on its second, short ride.
LAYOUT = {
    "ride_upload": [1] * 3,
    "long_ride": [15, 1],
}
RANDOM_RANGES = 300


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _ride_set(rng, out, group, minutes_list, malformed=False):
    rides = []
    for k, minutes in enumerate(minutes_list, start=1):
        data, facts = ride_log(rng, minutes, malformed)
        name = log_name(dt.date.fromisoformat(facts["day"]), facts["start_ms"])
        path = os.path.join(out, group, "%02d" % k, name)
        _write(path, data)
        facts["path"] = os.path.abspath(path)
        facts["name"] = name
        rides.append(facts)
    return rides


def generate(workload, seed, out):
    """Write one workload's inputs under `out`; return the manifest."""
    layout = LAYOUT[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    groups = {"rides": {"rides": _ride_set(rng, out, "rides", layout)}}
    data, kept = label_studio(rng, groups["rides"]["rides"][0], RANDOM_RANGES)
    path = os.path.join(out, "rides", "annotations.csv")
    _write(path, data)
    groups["rides"].update(annotations=os.path.abspath(path), ranges=kept)
    groups["probe"] = {"rides": _ride_set(rng, out, "probe", [1], malformed=True)}
    manifest = {"workload": workload, "seed": seed, "groups": groups}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

