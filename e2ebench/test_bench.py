"""The benchmark's own tests: generator determinism, checks that reject a
corrupted output, and the metric-name contract.  No JVM needed:

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""

import filecmp
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _tree(d):
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


def _digest(d, files):
    h = hashlib.sha256()
    for f in files:
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _wide_from_truth(truth, path):
    """A finalized wide table exactly as the planted truth describes it."""
    keys = sorted(truth["rows"])
    cols = {c: [] for c in check.OUTPUT_COLUMNS}
    for k in keys:
        exp = truth["rows"][k]
        jid, start, host, time = k
        row = dict.fromkeys(check.OUTPUT_COLUMNS)
        row.update(time=time, start_time=start, host=host, jid=jid,
                   host_list=exp["host_list"], username=exp["username"], nhosts=exp["nhosts"])
        row.update(zip(gen.VALUE_COLS, exp["values"]))
        for c in check.OUTPUT_COLUMNS:
            cols[c].append(row[c])
    ts = pa.timestamp("us", tz="UTC")
    types = {c: ts for c in ("time", "submit_time", "start_time", "end_time")}
    types.update({c: pa.int64() for c in ("timelimit", "nhosts", "ncores")})
    types.update({c: pa.float64() for c in gen.VALUE_COLS})
    _write(pa.table({c: pa.array(v, type=types.get(c, pa.string())) for c, v in cols.items()}),
           os.path.join(path, "part-0.parquet"))


def _corrupt(path, column, fn):
    """Rewrite the first parquet file under `path` with one cell changed."""
    f = next(os.path.join(p, n) for p, _, fs in sorted(os.walk(path)) for n in sorted(fs)
             if n.endswith(".parquet"))
    t = pq.read_table(f)
    vals = t.column(column).to_pylist()
    i = next(i for i, v in enumerate(vals) if v is not None)
    vals[i] = fn(vals[i])
    pq.write_table(t.set_column(t.column_names.index(column), column,
                                pa.array(vals, type=t.schema.field(column).type)), f)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(w), tempfile.TemporaryDirectory() as d:
                a, b, c = (os.path.join(d, x) for x in "abc")
                ta = gen.generate(w, a, 5, shape="small")
                tb = gen.generate(w, b, 5, shape="small")
                gen.generate(w, c, 6, shape="small")
                files = _tree(a)
                self.assertEqual(files, _tree(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                self.assertEqual(ta, tb)
                self.assertNotEqual(_digest(a, files), _digest(c, _tree(c)))


class CurateTruthTest(unittest.TestCase):

    def test_near_dup_losers_equal_all_pairs(self):
        """The prefix-filtered loser set equals an all-pairs Jaccard scan."""
        with tempfile.TemporaryDirectory() as d:
            gen.generate("curate_docs", d, 3, shape="small")
            t = pq.read_table(os.path.join(d, "docs.parquet")).to_pydict()
        sets = {i: gen.shingles(x.split(), gen.NEAR_DUP_K) for i, x in zip(t["doc_id"], t["text"])}
        ids = sorted(sets)
        slow = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                if inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.8:
                    slow.add(b)
        self.assertTrue(slow)
        self.assertEqual(gen.near_dup_losers(sets), slow)


class CheckTest(unittest.TestCase):
    """Each check passes an output built from the planted truth and fails
    the same output with one value changed."""

    def _assert_catches(self, w, build, corruptions):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.generate(w, os.path.join(d, "in"), 9, shape="small")
            work = os.path.join(d, "iter")
            build(truth, work)
            self.assertEqual(check.CHECKS[w](work, truth), [])
            for sub, column, fn in corruptions:
                with self.subTest(column=column):
                    build(truth, work)
                    _corrupt(os.path.join(work, sub), column, fn)
                    self.assertNotEqual(check.CHECKS[w](work, truth), [])

    def test_fresco_e2e(self):
        def build(truth, work):
            events = [e for e, n in sorted(truth["store_counts"].items()) for _ in range(n)]
            _write(pa.table({"Event": events}), os.path.join(work, "store", "date=2013-02-27", "p.parquet"))
            _wide_from_truth(truth, os.path.join(work, "final"))
        self._assert_catches("fresco_e2e", build, [
            ("final", "value_block", lambda v: v * (1 + 1e-6)),
            ("final", "jid", lambda v: "JOB" + v),
            ("final", "host_list", lambda v: v.replace("_S", "")),
            ("store", "Event", lambda v: "block" if v != "block" else "nfs")])
        with tempfile.TemporaryDirectory() as d:  # an uncompacted day partition
            truth = gen.generate("fresco_e2e", os.path.join(d, "in"), 9, shape="small")
            work = os.path.join(d, "iter")
            build(truth, work)
            _write(pa.table({"Event": pa.array([], pa.string())}),
                   os.path.join(work, "store", "date=2013-02-27", "q.parquet"))
            self.assertNotEqual(check.check_fresco_e2e(work, truth), [])

    def test_curate_docs(self):
        def build(truth, work):
            kept = sorted(truth["kept"])
            pii = [truth["kept"][d] for d in kept]
            _write(pa.table({
                "doc_id": pa.array(kept, pa.int64()), "text": [""] * len(kept),
                "quality_score": [0.9] * len(kept),
                "n_emails": [p["n_emails"] for p in pii], "n_ips": [p["n_ips"] for p in pii],
                "n_phones": [p["n_phones"] for p in pii],
                "redacted": ["<IP> " * sum(p.values()) for p in pii],
                "split": [check._split_of(d) for d in kept]}), os.path.join(work, "out", "p.parquet"))
        self._assert_catches("curate_docs", build, [
            ("out", "n_phones", lambda v: v + 1),
            ("out", "doc_id", lambda v: v + 1),
            ("out", "split", lambda v: "val" if v != "val" else "test")])


class MetricContractTest(unittest.TestCase):

    def test_names_units_and_counts(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = [m["name"] for m in spec["end_to_end"]]
        layers = [m["name"] for m in spec["per_layer"]]
        self.assertLessEqual(len(e2e), 16)
        self.assertLessEqual(len(layers), 128)
        names = e2e + layers + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertIsNotNone(NAME.fullmatch(n), n)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual(layers, list(run.LAYER_METRICS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {m: run.unit_of(m) for m in run.LAYER_METRICS})
        record = {"setup_s": 1.0, "iterations": [{"traced": False, "wall_s": 1.0, "cpu_s": 1.0,
                                                  "alloc_mb": 1.0, "bytes_written": 1,
                                                  "bytes_stored": 1}]}
        reported = run.end_to_end(record, {"input_rows": 1, "input_bytes": 1}, 1, 0)
        self.assertEqual({k: u for k, (_, u) in reported.items()},
                         {m["name"]: m["unit"] for m in spec["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
