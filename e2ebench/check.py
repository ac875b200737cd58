"""Output checks against the generator's ground truth (see gen.py).

Each check reads the engine's parquet output with pyarrow, so a fault in
the engine's own reader cannot hide a fault in its writer, and returns a
list of failure messages: empty means the output is correct.
"""

import hashlib
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from gen import EVENTS, VALUE_COLS

# Schemas.outputColumns: the reference's OUTPUT_COLUMNS (FIXTURES.md section 4)
OUTPUT_COLUMNS = [
    "time", "submit_time", "start_time", "end_time",
    "timelimit", "nhosts", "ncores",
    "account", "queue", "host", "jid", "jobname", "exitcode",
    "host_list", "username",
    "value_cpuuser", "value_gpu", "value_memused",
    "value_memused_minus_diskcache", "value_nfs", "value_block"]
CURATE_COLUMNS = ["doc_id", "text", "quality_score", "n_emails", "n_ips",
                  "n_phones", "redacted", "split"]
REL_TOL = 1e-9
MAX_REPORTED = 5


def read_dir(path, partitioning=None):
    return ds.dataset(path, format="parquet", partitioning=partitioning).to_table()


def _micros(table, name):
    return pc.cast(pc.cast(table.column(name), pa.timestamp("us", tz="UTC")), pa.int64()).to_pylist()


def _close(a, b):
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def check_wide(final_dir, truth):
    """Finalized wide table: exact schema, one row per planted in-interval
    sample, bucket means equal to the planted constants, job-id variants
    collapsed to `<digits>_S`, host lists of multi-host jobs."""
    t = read_dir(final_dir)
    if t.column_names != OUTPUT_COLUMNS:
        return ["wide schema %s != %s" % (t.column_names, OUTPUT_COLUMNS)]
    errors = []
    jid, host = t.column("jid").to_pylist(), t.column("host").to_pylist()
    start, time = _micros(t, "start_time"), _micros(t, "time")
    values = [t.column(c).to_pylist() for c in VALUE_COLS]
    host_list = t.column("host_list").to_pylist()
    user = t.column("username").to_pylist()
    nhosts = t.column("nhosts").to_pylist()
    expected = truth["rows"]
    seen = set()
    for i in range(t.num_rows):
        if jid[i] is None or not re.fullmatch(r"\d+_S", jid[i]):
            errors.append("jid %r is not <digits>_S" % jid[i])
            continue
        key = (jid[i], start[i], host[i], time[i])
        exp = expected.get(key)
        if exp is None or key in seen:
            errors.append("unexpected or repeated row %r" % (key,))
            continue
        seen.add(key)
        for col, want, got in zip(VALUE_COLS, exp["values"], (v[i] for v in values)):
            if got is not None and got != got:  # NaN counts as absent
                got = None
            if (want is None) != (got is None) or (want is not None and not _close(want, got)):
                errors.append("%s of %r: want %r, got %r" % (col, key, want, got))
        for col, want, got in (("host_list", exp["host_list"], host_list[i]),
                               ("username", exp["username"], user[i]),
                               ("nhosts", exp["nhosts"], nhosts[i])):
            if want != got:
                errors.append("%s of %r: want %r, got %r" % (col, key, want, got))
    missing = len(expected) - len(seen)
    if missing:
        errors.append("%d planted rows missing, e.g. %r" % (
            missing, next(k for k in expected if k not in seen)))
    return errors[:MAX_REPORTED]


def check_fresco_e2e(work, truth):
    """The compacted step-1 store holds the planted per-event row counts
    after the reset / duplicate / sentinel drops, in one file per day
    partition; the final table passes check_wide."""
    store_dir = os.path.join(work, "store")
    store = read_dir(store_dir, partitioning="hive")
    got = {e: 0 for e in EVENTS}
    for row in pc.value_counts(store.column("Event")).to_pylist():
        got[row["values"]] = row["counts"]
    errors = []
    if got != truth["store_counts"]:
        errors.append("store rows per event %s != planted %s" % (got, truth["store_counts"]))
    for p in sorted(os.listdir(store_dir)):
        if p.startswith("date="):
            files = [f for f in os.listdir(os.path.join(store_dir, p)) if not f.startswith((".", "_"))]
            if len(files) != 1:
                errors.append("partition %s holds %d files after compaction" % (p, len(files)))
    return errors + check_wide(os.path.join(work, "final"), truth)


EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PLACEHOLDERS = ("<EMAIL>", "<IP>", "<PHONE>")


def _split_of(doc_id):
    pfx = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
    return "train" if pfx < "cccc" else "val" if pfx < "e666" else "test"


def check_curate_docs(work, truth):
    """Exactly the clean documents survive (near-dup losers, contaminated
    and low-quality documents are gone), each with its planted PII counts,
    a redacted text free of planted PII, and its md5 split."""
    t = read_dir(os.path.join(work, "out"))
    missing_cols = [c for c in CURATE_COLUMNS if c not in t.column_names]
    if missing_cols:
        return ["curate output lacks columns %s" % missing_cols]
    errors = []
    ids = t.column("doc_id").to_pylist()
    if len(ids) != len(set(ids)):
        errors.append("curate output repeats doc ids")
    kept = truth["kept"]
    for name in ("losers", "contaminated", "low_quality"):
        bad = truth[name].intersection(ids)
        if bad:
            errors.append("%d %s documents survived, e.g. %d" % (len(bad), name, min(bad)))
    lost = set(kept) - set(ids)
    if lost:
        errors.append("%d clean docs dropped, e.g. %d" % (len(lost), min(lost)))
    cols = {c: t.column(c).to_pylist() for c in
            ("n_emails", "n_ips", "n_phones", "redacted", "split", "quality_score")}
    for i, did in enumerate(ids):
        want = kept.get(did)
        if want is None:
            continue
        got = {k: cols[k][i] for k in ("n_emails", "n_ips", "n_phones")}
        if got != want:
            errors.append("doc %d PII counts %s != planted %s" % (did, got, want))
        red = cols["redacted"][i]
        if EMAIL.search(red) or sum(red.count(p) for p in PLACEHOLDERS) != sum(want.values()):
            errors.append("doc %d redaction incomplete" % did)
        if cols["split"][i] != _split_of(did):
            errors.append("doc %d split %r, want %r" % (did, cols["split"][i], _split_of(did)))
        if not cols["quality_score"][i] >= 0.5:
            errors.append("doc %d kept with quality %r" % (did, cols["quality_score"][i]))
    return errors[:MAX_REPORTED]


CHECKS = {"fresco_e2e": check_fresco_e2e, "curate_docs": check_curate_docs}
