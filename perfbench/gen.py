"""Seeded input generator and expected-snapshot digest for the benchmark.

Runs in its own process, single-threaded, separate from the JVM under test.
Every workload is a key-partitioned keyed JSON log, as Kafka's partitioner
would lay it out: a key always lands in the same partition, so per-partition
offsets order every version of a key.  1% of records are malformed JSON and
1% lack `msg` (the lenient parse defaults it to "").

Batch workloads are written as kafka-shaped parquet (one file per partition);
the streaming workload as a `kafkalog` directory (`p=<n>/<segment>` files of
`<offset>TAB<base64(value)>` lines): a visible backlog, hidden burst segments
that run.py publishes at once, and hidden live-tail segments that `tail.py`
publishes on a fixed schedule.  Every file is written under a hidden name and
then renamed, so a reader never sees a partial one.

The digest of the expected snapshot is computed here, from the generated
records and without Spark, before anything is timed.

    python3 perfbench/gen.py --workload snapshot_hot --seed 1 --out DIR [--seconds 12]
"""

import argparse
import base64
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402

PARTITIONS = 8

# records: log size; keys: key-space size; zipf: key skew (None = uniform);
# msg: payload bytes per record (random hex, so even).
WORKLOADS = {
    "snapshot_hot": dict(kind="batch", records=250_000, keys=10_000,
                         zipf=1.1, msg=16),
    "snapshot_wide": dict(kind="batch", records=150_000, keys=75_000,
                          zipf=None, msg=256),
    # The stream's log is a backlog of records - burst, then a burst of
    # `burst` records released at once, then a live tail lasting the run's
    # measured seconds: one segment of tail_records every tail_interval_s,
    # round-robin over the partitions.  cap: maxOffsetsPerTrigger.
    "stream_upsert": dict(kind="stream", records=100_000, burst=60_000, keys=10_000,
                          zipf=None, msg=64, cap=10_000,
                          tail_records=40, tail_interval_s=0.12),
}

MALFORMED_FRAC = 0.01
NO_MSG_FRAC = 0.01

# Every record is one fixed-width row {"id":<13 digits>,"msg":"<msg>"} so the
# log is built with array operations.  The variants keep the width:
#   missing msg   {"id":…,"pad":"…"}   (unknown field, dropped by the parse)
#   malformed     {"id":…,"msg":"…xx   (unterminated string)
#   malformed     x"id":…,"msg":"…"}   (not JSON)
ID_DIGITS = 13
MSG_AT = len('{"id":') + ID_DIGITS + len(',"msg":"')
OK, MALFORMED, NO_MSG = 0, 1, 2


def row_width(msg_len):
    return MSG_AT + msg_len + 2


def key_ids(rng, n_keys):
    """n_keys distinct 13-digit ids (an odd multiplier permutes mod 2^36)."""
    mult = np.uint64(int(rng.integers(1 << 20, 1 << 35)) | 1)
    add = np.uint64(rng.integers(0, 1 << 36))
    ranks = np.arange(n_keys, dtype=np.uint64)
    return (10**12 + ((ranks * mult + add) & np.uint64((1 << 36) - 1))).astype(np.int64)


def partition_of(ids):
    """Key-hash partitioner: the same id always maps to the same partition."""
    h = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    return ((h >> np.uint64(40)) % np.uint64(PARTITIONS)).astype(np.int32)


def draw_keys(rng, ids, n, zipf):
    if zipf is None:
        return ids[rng.integers(0, len(ids), n)]
    pmf = 1.0 / np.arange(1, len(ids) + 1, dtype=np.float64) ** zipf
    return ids[rng.choice(len(ids), size=n, p=pmf / pmf.sum())]


def ascii_digits(x, width):
    powers = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((x[:, None] // powers) % 10 + ord("0")).astype(np.uint8)


def put(rows, cols, text, mask=slice(None)):
    rows[mask, cols] = np.frombuffer(text, np.uint8)


def records(rng, keys, msg_len):
    """Fixed-width JSON rows for the drawn keys; returns (rows, kinds)."""
    n, end = len(keys), MSG_AT + msg_len
    u = rng.random(n)
    kinds = np.where(u < MALFORMED_FRAC, MALFORMED,
                     np.where(u < MALFORMED_FRAC + NO_MSG_FRAC, NO_MSG, OK))
    rows = np.empty((n, row_width(msg_len)), np.uint8)
    put(rows, slice(0, 6), b'{"id":')
    rows[:, 6:6 + ID_DIGITS] = ascii_digits(keys, ID_DIGITS)
    put(rows, slice(6 + ID_DIGITS, MSG_AT), b',"msg":"')
    put(rows, slice(6 + ID_DIGITS, MSG_AT), b',"pad":"', kinds == NO_MSG)
    rows[:, MSG_AT:end] = np.frombuffer(
        rng.bytes(n * msg_len // 2).hex().encode(), np.uint8).reshape(n, msg_len)
    put(rows, slice(end, end + 2), b'"}')
    bad = kinds == MALFORMED
    odd = (np.arange(n) % 2).astype(bool)
    put(rows, slice(end, end + 2), b"xx", bad & ~odd)
    put(rows, 0, b"x", bad & odd)
    return rows, kinds


def expected_snapshot(keys, kinds, rows):
    """The latest well-formed record per key, as an (id, msg) table.

    Records are in log order and a key lives in one partition, so the last
    occurrence of a key is its highest offset.
    """
    valid = np.nonzero(kinds != MALFORMED)[0]
    rev = valid[::-1]
    ids, first = np.unique(keys[rev], return_index=True)
    last = rev[first]
    msg_len = rows.shape[1] - row_width(0)
    msgs = pa.array(np.ascontiguousarray(rows[last, MSG_AT:MSG_AT + msg_len])
                    .view(f"S{msg_len}").ravel()).cast(pa.string())
    msgs = pc.if_else(pa.array(kinds[last] == NO_MSG), "", msgs)
    return pa.table({"id": ids, "msg": msgs})


def binary_column(rows):
    """One BinaryArray value per fixed-width row, without copying."""
    n, w = rows.shape
    offsets = pa.py_buffer(np.arange(0, (n + 1) * w, w, dtype=np.int32).tobytes())
    return pa.BinaryArray.from_buffers(pa.binary(), n, [None, offsets, pa.py_buffer(rows.tobytes())])


def write_parquet(out, keys, parts, offs, rows):
    os.makedirs(out, exist_ok=True)
    ts0 = 1_700_000_000_000
    for p in range(PARTITIONS):
        idx = np.nonzero(parts == p)[0]
        table = pa.table({
            "key": binary_column(ascii_digits(keys[idx], ID_DIGITS)),
            "value": binary_column(rows[idx]),
            "topic": pa.array(["events"] * len(idx), pa.string()),
            "partition": pa.array(parts[idx], pa.int32()),
            "offset": pa.array(offs[idx], pa.int64()),
            "timestamp": pa.array(ts0 + idx.astype(np.int64), pa.timestamp("ms", tz="UTC")),
        })
        tmp = os.path.join(out, f".part-{p:05d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, f"part-{p:05d}.parquet"))


def seg_name(base_offset):
    return f"seg-{base_offset:012d}"


def write_segment(path, first_offset, rows, hidden_suffix=".tmp"):
    """Write `<offset>TAB<base64>` lines hidden; return the hidden path."""
    w = rows.shape[1]
    assert w % 3 == 0, "row width must be a multiple of 3 to base64 rows in one pass"
    b64 = base64.b64encode(rows.tobytes()).decode()
    step = w // 3 * 4
    hidden = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + hidden_suffix)
    with open(hidden, "w") as f:
        f.write("".join(f"{first_offset + i}\t{b64[i * step:(i + 1) * step]}\n"
                        for i in range(len(rows))))
    return hidden


def write_log(log, parts, offs, rows, select, suffix=None, segments_per_partition=2):
    """Each partition's selected records, in offset order, in a few segments.

    Without `suffix` the segments are published; with one they stay hidden
    under that suffix and the (hidden, final) pairs are returned, for the
    caller to publish later.
    """
    staged = []
    for p in range(PARTITIONS):
        d = os.path.join(log, f"p={p}")
        os.makedirs(d, exist_ok=True)
        idx = select[parts[select] == p]
        for chunk in np.array_split(idx, segments_per_partition):
            if len(chunk):
                base = int(offs[chunk[0]])
                final = os.path.join(d, seg_name(base))
                hidden = write_segment(final, base, rows[chunk], suffix or ".tmp")
                if suffix:
                    staged.append([hidden, final])
                else:
                    os.replace(hidden, final)
    return staged


def stage_tail(rng, log, ids, spec, next_offset, ticks):
    """Write the live-tail segments hidden; tail.py renames them on schedule.

    Tick i appends one segment to partition i % PARTITIONS, drawn from that
    partition's keys.  Returns (keys, kinds, rows, schedule) in tail order.
    """
    id_parts = partition_of(ids)
    by_part = [ids[id_parts == p] for p in range(PARTITIONS)]
    all_keys, all_kinds, all_rows, schedule = [], [], [], []
    for i in range(ticks):
        p = i % PARTITIONS
        keys = by_part[p][rng.integers(0, len(by_part[p]), spec["tail_records"])]
        rows, kinds = records(rng, keys, spec["msg"])
        base = next_offset[p]
        next_offset[p] = base + len(keys)
        final = os.path.join(log, f"p={p}", seg_name(base))
        hidden = write_segment(final, base, rows, hidden_suffix=".tail")
        schedule.append({"partition": p, "end_offset": next_offset[p], "records": len(keys),
                         "hidden": hidden, "final": final, "at_s": i * spec["tail_interval_s"]})
        all_keys.append(keys)
        all_kinds.append(kinds)
        all_rows.append(rows)
    return np.concatenate(all_keys), np.concatenate(all_kinds), np.concatenate(all_rows), schedule


def generate(workload, seed, out, seconds):
    """Write the workload's inputs under `out` and return its manifest;
    `seconds` is the length of the stream's live tail."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    ids = key_ids(rng, spec["keys"])
    keys = draw_keys(rng, ids, spec["records"], spec["zipf"])
    rows, kinds = records(rng, keys, spec["msg"])
    parts = partition_of(keys)
    snap = expected_snapshot(keys, kinds, rows)
    manifest = {"workload": workload, "seed": seed, "spec": spec,
                "partitions": PARTITIONS, "records": spec["records"],
                "parsed": int((kinds != MALFORMED).sum()),
                "digest": check.digest(snap), "keys_out": len(snap)}
    offs = np.empty(len(parts), dtype=np.int64)
    for p in range(PARTITIONS):
        idx = np.nonzero(parts == p)[0]
        offs[idx] = np.arange(len(idx))
    if spec["kind"] == "batch":
        manifest["input"] = os.path.join(out, "input")
        write_parquet(manifest["input"], keys, parts, offs, rows)
    else:
        # the backlog, then the burst (hidden until released), then the tail
        log = os.path.join(out, "log")
        backlog = np.arange(spec["records"] - spec["burst"])
        burst = np.arange(len(backlog), spec["records"])
        write_log(log, parts, offs, rows, backlog)
        staged = write_log(log, parts, offs, rows, burst, suffix=".burst")
        next_offset = np.bincount(parts, minlength=PARTITIONS).tolist()
        ticks = round(seconds / spec["tail_interval_s"])
        t_keys, t_kinds, t_rows, schedule = stage_tail(rng, log, ids, spec, next_offset, ticks)
        snap_backlog = expected_snapshot(keys[backlog], kinds[backlog], rows[backlog])
        everything = expected_snapshot(np.concatenate([keys, t_keys]),
                                       np.concatenate([kinds, t_kinds]),
                                       np.concatenate([rows, t_rows]))
        manifest.update(
            input=log, burst=staged, burst_records=len(burst), schedule=schedule,
            backlog_end=np.bincount(parts[backlog], minlength=PARTITIONS).tolist(),
            burst_end=np.bincount(parts, minlength=PARTITIONS).tolist(),
            tail_records=len(t_keys),
            digest=check.digest(snap_backlog), keys_out=len(snap_backlog),
            digest_live=check.digest(everything), keys_out_live=len(everything))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    m = generate(a.workload, a.seed, a.out, a.seconds)
    print(json.dumps({k: m[k] for k in ("workload", "seed", "records", "keys_out", "digest")}))


if __name__ == "__main__":
    main()
