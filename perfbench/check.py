"""Correctness gate: compare what the program wrote with the generator's digest.

The digest is a SHA-256 over the snapshot's `id TAB msg NEWLINE` lines in id
order, so a key with a rolled-back value, a missing key, an extra key or a
key written twice all change it.  Nothing here uses Spark.
"""

import base64
import glob
import hashlib
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj

SNAPSHOT_SCHEMA = pa.schema([("id", pa.int64()), ("msg", pa.string())])
LOG_SCHEMA = pa.schema([("id", pa.int64()), ("msg", pa.string()), ("version", pa.int64())])


def digest(snap):
    """Digest of a snapshot given as a table with unique `id` and `msg`."""
    t = snap.select(["id", "msg"]).sort_by("id")
    lines = pc.binary_join_element_wise(
        pc.cast(t["id"], pa.string()), pc.fill_null(t["msg"], ""), "\t")
    lines = pc.binary_join_element_wise(lines, "", "\n").combine_chunks()
    offsets = np.frombuffer(lines.buffers()[1], np.int32)[lines.offset:lines.offset + len(lines) + 1]
    h = hashlib.sha256()
    if len(lines):
        h.update(memoryview(lines.buffers()[2])[offsets[0]:offsets[-1]])
    return h.hexdigest()


def _read_json_lines(data, schema):
    opts = pj.ParseOptions(explicit_schema=schema, unexpected_field_behavior="error")
    return pj.read_json(io.BytesIO(data), parse_options=opts)


def read_snapshot(path):
    """The JSON-lines snapshot directory as an (id, msg) table; None if it is
    malformed: no `_SUCCESS` marker, a line that does not parse, a line
    without an id, or an id that appears twice."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    tables = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, "rb") as f:
            data = f.read()
        if not data.strip():
            continue
        try:
            tables.append(_read_json_lines(data, SNAPSHOT_SCHEMA))
        except pa.ArrowInvalid:
            return None
    t = pa.concat_tables(tables) if tables else SNAPSHOT_SCHEMA.empty_table()
    if t["id"].null_count or len(pc.unique(t["id"])) != len(t):
        return None
    return t


def log_files(path):
    """Visible segment files of a kafkalog directory, per partition in order."""
    out = []
    for pdir in sorted(glob.glob(os.path.join(path, "p=*"))):
        out.extend(sorted(
            os.path.join(pdir, n) for n in os.listdir(pdir)
            if not n.startswith((".", "_")) and os.path.isfile(os.path.join(pdir, n))))
    return out


def read_log_latest(path):
    """The highest-`version` record per id of a kafkalog output log of
    `{"id","msg","version"}` values, as an (id, msg) table; None if a record
    is malformed."""
    values = []
    for seg in log_files(path):
        with open(seg, "rb") as f:
            for line in f:
                tab = line.find(b"\t")
                if tab <= 0:
                    return None
                values.append(base64.b64decode(line[tab + 1:]))
    if not values:
        return SNAPSHOT_SCHEMA.empty_table()
    try:
        t = _read_json_lines(b"\n".join(values), LOG_SCHEMA)
    except pa.ArrowInvalid:
        return None
    if t["id"].null_count or t["version"].null_count:
        return None
    t = t.sort_by([("id", "ascending"), ("version", "descending")])
    ids = t["id"].to_numpy()
    first = np.ones(len(ids), dtype=bool)
    first[1:] = ids[1:] != ids[:-1]
    return t.filter(pa.array(first)).select(["id", "msg"])


def matches(snap, expected_digest):
    return snap is not None and digest(snap) == expected_digest
