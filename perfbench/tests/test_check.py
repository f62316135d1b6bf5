"""Self-test of the benchmark's correctness gate.

The gate must accept the exact expected snapshot and reject one with a key
rolled back to an older version and one missing a key, both as a JSON-lines
snapshot directory (batch) and as a kafkalog output log (stream).

    python3 -m unittest discover -s perfbench/tests
"""

import base64
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import check  # noqa: E402
import gen  # noqa: E402


def versions(n_keys=50, n_records=400, seed=7):
    """A small generated log: [(id, msg or None if malformed)] in log order,
    plus the generator's expected snapshot digest."""
    rng = np.random.default_rng(seed)
    ids = gen.key_ids(rng, n_keys)
    keys = gen.draw_keys(rng, ids, n_records, None)
    rows, kinds = gen.records(rng, keys, 16)
    log = []
    for k, kind, row in zip(keys.tolist(), kinds.tolist(), rows):
        msg = None if kind == gen.MALFORMED else (
            "" if kind == gen.NO_MSG else bytes(row[gen.MSG_AT:gen.MSG_AT + 16]).decode())
        log.append((k, msg))
    return log, check.digest(gen.expected_snapshot(keys, kinds, rows))


def latest_and_older(log):
    """The expected {id: msg}, and one key with an older, different value."""
    latest, older = {}, {}
    for k, msg in log:
        if msg is None:
            continue
        if k in latest and latest[k] != msg:
            older[k] = latest[k]
        latest[k] = msg
    key = next(k for k in older if older[k] != latest[k])
    return latest, key, older[key]


def write_snapshot(path, snap):
    """A snapshot laid out as Spark's text writer leaves it."""
    os.makedirs(path)
    items = sorted(snap.items())
    half = len(items) // 2
    for i, part in enumerate((items[:half], items[half:])):
        with open(os.path.join(path, f"part-{i:05d}.txt"), "w") as f:
            for k, m in part:
                f.write(json.dumps({"id": k, "msg": m}, separators=(",", ":")) + "\n")
    open(os.path.join(path, "_SUCCESS"), "w").close()


def write_log(path, records):
    """An output log of {"id","msg","version"} records in one partition."""
    os.makedirs(os.path.join(path, "p=0"))
    with open(os.path.join(path, "p=0", "e000000000000"), "w") as f:
        for off, (k, m, v) in enumerate(records):
            value = json.dumps({"id": k, "msg": m, "version": v}).encode()
            f.write(f"{off}\t{base64.b64encode(value).decode()}\n")


class GateTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.log, self.digest = versions()
        self.latest, self.key, self.old = latest_and_older(self.log)

    def tearDown(self):
        self.tmp.cleanup()

    def snapshot_ok(self, snap, name):
        path = os.path.join(self.tmp.name, name)
        write_snapshot(path, snap)
        return check.matches(check.read_snapshot(path), self.digest)

    def log_ok(self, records, name):
        path = os.path.join(self.tmp.name, name)
        write_log(path, records)
        return check.matches(check.read_log_latest(path), self.digest)

    def test_snapshot_exact_is_accepted(self):
        self.assertTrue(self.snapshot_ok(self.latest, "exact"))

    def test_snapshot_rolled_back_key_is_rejected(self):
        self.assertFalse(self.snapshot_ok({**self.latest, self.key: self.old}, "rolled_back"))

    def test_snapshot_missing_key_is_rejected(self):
        snap = dict(self.latest)
        del snap[self.key]
        self.assertFalse(self.snapshot_ok(snap, "missing"))

    def test_snapshot_duplicate_key_is_rejected(self):
        path = os.path.join(self.tmp.name, "dup")
        write_snapshot(path, self.latest)
        with open(os.path.join(path, "part-00001.txt"), "a") as f:
            f.write(json.dumps({"id": self.key, "msg": self.old}) + "\n")
        self.assertFalse(check.matches(check.read_snapshot(path), self.digest))

    def test_snapshot_without_success_marker_is_rejected(self):
        path = os.path.join(self.tmp.name, "unfinished")
        write_snapshot(path, self.latest)
        os.remove(os.path.join(path, "_SUCCESS"))
        self.assertIsNone(check.read_snapshot(path))

    def versioned(self):
        return [(k, m, v) for v, (k, m) in enumerate(self.log) if m is not None]

    def test_log_exact_is_accepted(self):
        self.assertTrue(self.log_ok(self.versioned(), "log_exact"))

    def test_log_rolled_back_key_is_rejected(self):
        # the key's latest version never reached the log
        last = max(i for i, r in enumerate(self.versioned()) if r[0] == self.key)
        records = [r for i, r in enumerate(self.versioned()) if i != last]
        self.assertFalse(self.log_ok(records, "log_rolled_back"))

    def test_log_missing_key_is_rejected(self):
        records = [r for r in self.versioned() if r[0] != self.key]
        self.assertFalse(self.log_ok(records, "log_missing"))


if __name__ == "__main__":
    unittest.main()
