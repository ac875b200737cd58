"""Seeded, single-threaded input generator for the end-to-end benchmark.

Every workload's inputs come from one `random.Random(seed)` stream, so the
same seed writes byte-identical files.  Alongside the files each generator
returns the ground truth it planted; `check.py` compares the engine's
outputs with that truth and never with another run of the engine.

Planted traps (FIXTURES.md section 5):
  * block / llite counter resets (the reset sample's rate row drops);
  * exact duplicate llite samples (delta-t = 0 < 0.1 s, dropped);
  * `NA` / `NULL` / empty sentinels in jobID, timestamp and cpu device
    cells of junk rows (every such row drops);
  * the job-id variant zoo (`123`, `jobID123`, `JOB123`, `job123`,
    `JOBID123`) in node CSVs and in accounting;
  * samples exactly at a job's `end` (excluded by `[start, end)`);
  * a node group whose mem.csv has no `MemUsed` column (fallback
    `MemTotal - MemFree`), next to one whose `MemFree` disagrees with
    `MemUsed` so the fallback would be caught if taken wrongly;
  * multi-host jobs, resubmitted jobs (one job number, two intervals),
    jobs with `start >= end` and with a null `start`;
  * near-duplicate documents, eval-set contamination, low-quality
    documents and PII in the curation corpus, a rotated replica of the
    vendored `data/documents.parquet`.
"""

import datetime as _dt
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

GIB = float(2 ** 30)
MIB = float(2 ** 20)
US = 1_000_000

EVENTS = ("cpuuser", "memused", "memused_minus_diskcache", "nfs", "block")
# value_* columns of the wide output, in Schemas.outputColumns order
VALUE_COLS = ("value_cpuuser", "value_gpu", "value_memused",
              "value_memused_minus_diskcache", "value_nfs", "value_block")
VALUE_EVENTS = ("cpuuser", None, "memused", "memused_minus_diskcache",
                "nfs", "block")

# Workload shapes: `full` is what a run measures; `small` keeps the same
# traps at a size the benchmark's own tests generate in well under a second.
SHAPES = {
    "fresco_e2e": {
        "full": {"nodes_per_group": 16, "groups": 2},
        "small": {"nodes_per_group": 2, "groups": 2},
    },
    "curate_docs": {
        "full": {"base_docs": 5000, "replicas": 3, "eval_docs": 300},
        "small": {"base_docs": 200, "replicas": 2, "eval_docs": 20},
    },
}


def _epoch_us(year, month, day):
    return int(_dt.datetime(year, month, day, tzinfo=_dt.timezone.utc).timestamp()) * US


def _raw_ts(us):
    """`MM/DD/YYYY HH:MM:SS`, the raw CSV and accounting timestamp format."""
    return _dt.datetime.fromtimestamp(us // US, _dt.timezone.utc).strftime("%m/%d/%Y %H:%M:%S")


def _host(n):
    return "c%03d-%03d" % (401 + n // 64, 101 + n % 64)


# The job layout is the same for every seed, so every seed asks for the same
# amount of work; the seed picks values, id variants and trap positions.
CLUSTER_SIZES = (1, 2, 1, 4)
JOB_LENGTHS = (12, 30, 18, 40, 8, 24, 36, 6, 20, 16)  # in samples


def _clusters(hosts):
    """Split hosts into groups of 1, 2 or 4 that run multi-host jobs together."""
    out, i = [], 0
    while i < len(hosts):
        size = min(CLUSTER_SIZES[len(out) % len(CLUSTER_SIZES)], len(hosts) - i)
        out.append(hosts[i:i + size])
        i += size
    return out


def _bucket_time(start_us, end_us, t_us, width_us=60 * US):
    """Midpoint of the job-start-aligned 1-minute bucket holding `t_us`."""
    k = (t_us - start_us) // width_us
    lo = start_us + k * width_us
    hi = min(lo + width_us, end_us)
    return lo + (hi - lo) // 2


class _Jobs:
    """Job-number allocator plus the accounting rows of a workload."""

    USERS = ["user%02d" % i for i in range(40)]
    QUEUES = ("normal", "development", "largemem")

    def __init__(self, rng, first):
        self.rng = rng
        self.next = first
        self.rows = []

    def new_id(self):
        self.next += self.rng.randint(1, 7)
        return self.next

    def add(self, digits, start_us, end_us, nhosts, start_text=None):
        rng = self.rng
        variant = rng.choice(("%d", "jobID%d", "JOB%d")) % digits
        user = rng.choice(self.USERS)
        self.rows.append([
            variant, user, "TG-%06d" % rng.randint(0, 999), "run_%d" % rng.randint(0, 99),
            rng.choice(self.QUEUES), str(nhosts), str(16 * nhosts),
            str(rng.choice((3600, 7200, 86400, 172800))),
            _raw_ts(start_us) if start_text is None else start_text,
            _raw_ts(end_us), _raw_ts(start_us - rng.randint(60, 7200) * US),
            rng.choice(("COMPLETED", "FAILED", "0"))])
        return user

    def write_csv(self, path):
        rows = list(self.rows)
        self.rng.shuffle(rows)
        with open(path, "w", newline="\n") as f:
            f.write("jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
                    "start,end,submit,exit_status\n")
            for r in rows:
                f.write(",".join(r) + "\n")


def _expect_rows(truth, digits, start_us, end_us, hosts, user, samples):
    """Record expected wide rows: `samples[host]` is a list of
    (time_us, {event: value}) for the samples inside `[start, end)`."""
    host_list = ",".join(sorted(hosts)) + "_S"
    for h in hosts:
        for t_us, vals in samples[h]:
            key = ("%d_S" % digits, start_us, h + "_S", _bucket_time(start_us, end_us, t_us))
            if key in truth["rows"]:
                raise AssertionError("generator planted two samples in one bucket: %r" % (key,))
            truth["rows"][key] = {
                "values": tuple(None if e is None else vals.get(e) for e in VALUE_EVENTS),
                "host_list": host_list,
                "username": user + "_S",
                "nhosts": len(hosts),
            }


# ---------------------------------------------------------------- fresco_e2e

def gen_fresco_e2e(out, seed, nodes_per_group, groups):
    """Raw node CSVs (one directory per node, four files each) in `groups`
    flush directories plus the day's accounting CSV.  Group 1 has no
    `MemUsed` column.  Ten-minute samples over one day."""
    rng = random.Random(seed)
    day0 = _epoch_us(2013, 2, 27)
    step = 600 * US
    n_samples = 144
    ts_text = [_raw_ts(day0 + i * step) for i in range(n_samples)]
    jobs = _Jobs(rng, 2_000_000 + rng.randint(0, 100_000))
    truth = {"rows": {}, "store_counts": {e: 0 for e in EVENTS},
             "input_rows": 0, "input_bytes": 0}
    host_no = n_jobs = 0
    for g in range(groups):
        mem_used_col = (g % 2 == 0)
        gdir = os.path.join(out, "g%d" % g)
        hosts = [_host(host_no + i) for i in range(nodes_per_group)]
        host_no += nodes_per_group
        lines = {fam: {h: [] for h in hosts} for fam in ("block", "cpu", "llite", "mem")}
        for c, cluster in enumerate(_clusters(hosts)):
            idx = 0
            while n_samples - 1 - idx >= 6:
                length = min(JOB_LENGTHS[(c + n_jobs) % len(JOB_LENGTHS)], n_samples - 1 - idx)
                _plant_e2e_job(rng, jobs, truth, lines, cluster, ts_text,
                               day0, step, idx, length, mem_used_col, n_jobs)
                idx += length
                n_jobs += 1
        # junk rows carrying null sentinels in key cells: all must drop
        for h in hosts:
            for fam in ("block", "cpu", "llite", "mem"):
                for _ in range(2):
                    lines[fam][h].append(_junk_line(rng, fam, h, ts_text, mem_used_col))
        headers = {
            "block": "jobID,node,timestamp,device,rd_sectors,wr_sectors",
            "cpu": "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,softirq",
            "llite": "jobID,node,timestamp,read_bytes,write_bytes",
            "mem": ("jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages" if mem_used_col
                    else "jobID,node,timestamp,MemTotal,MemFree,FilePages"),
        }
        for h in hosts:
            ndir = os.path.join(gdir, h)
            os.makedirs(ndir, exist_ok=True)
            for fam, header in headers.items():
                rows = lines[fam][h]
                path = os.path.join(ndir, fam + ".csv")
                with open(path, "w", newline="\n") as f:
                    f.write(header + "\n")
                    f.write("\n".join(rows) + "\n")
                truth["input_rows"] += len(rows)
                truth["input_bytes"] += os.path.getsize(path)
    # carries the start >= end and null-start records of _plant_e2e_job,
    # whose node rows must not reach the output
    acct = os.path.join(out, "accounting.csv")
    jobs.write_csv(acct)
    truth["input_bytes"] += os.path.getsize(acct)
    return truth


def _plant_e2e_job(rng, jobs, truth, lines, cluster, ts_text, day0, step,
                   idx, length, mem_used_col, job_no):
    digits = jobs.new_id()
    s0 = day0 + idx * step
    start_us = s0 - (0 if idx == 0 else rng.choice((0, 17, 45)) * US)
    end_us = s0 + length * step  # a sample sits exactly at `end`
    if job_no % 37 == 5:
        jobs.add(digits, end_us, start_us, len(cluster))          # start >= end
        valid = False
    elif job_no % 37 == 20:
        jobs.add(digits, start_us, end_us, len(cluster), start_text="NA")
        valid = False
    else:
        user = jobs.add(digits, start_us, end_us, len(cluster))
        valid = True
    if valid and job_no % 13 == 3:
        # resubmitted: the same job number also ran earlier, elsewhere,
        # for an interval that holds no sample of this cluster
        jobs.add(digits, day0 - 3 * 86400 * US, day0 - 2 * 86400 * US, 1)
    samples = {}
    for h in cluster:
        variant = rng.choice(("%d", "jobID%d", "JOB%d", "job%d", "JOBID%d")) % digits
        samples[h] = _plant_e2e_series(rng, truth, lines, h, variant, ts_text,
                                       idx, length, mem_used_col)
    if valid:
        _expect_rows(truth, digits, start_us, end_us, cluster, user,
                     {h: [(day0 + (idx + i) * step, v) for i, v in samples[h]]
                      for h in cluster})


def _plant_e2e_series(rng, truth, lines, host, jid, ts_text, idx, length, mem_used_col):
    """One (job, node) series of length+1 samples (the last one at `end`).
    Returns [(sample offset, {event: value})] for the samples inside
    `[start, end)`."""
    n = length + 1
    counts = truth["store_counts"]
    # --- block: two devices, constant per-device sector increments
    devs = [(rng.randint(0, 20_000), rng.randint(0, 20_000)) for _ in range(2)]
    rate = sum(a + b for a, b in devs)
    block_val = max(rate * 512.0 / 600.0 / GIB, 0.0)
    block_reset = rng.randint(2, length - 2) if rng.random() < 0.15 else None
    bases = [(rng.randint(10 ** 6, 10 ** 9), rng.randint(10 ** 6, 10 ** 9)) for _ in devs]
    for i in range(n):
        for d, ((ri, wi), (rb, wb)) in enumerate(zip(devs, bases)):
            k = i if block_reset is None or i < block_reset else i - block_reset
            if block_reset is not None and i >= block_reset:
                rb, wb = d * 7, d * 11
            lines["block"][host].append("%s,%s,%s,sd%s,%d,%d" % (
                jid, host, ts_text[idx + i], "ab"[d], rb + ri * k, wb + wi * k))
    # --- cpu: 16 cores, constant per-core jiffy increments
    cores = [[rng.randint(0, 400) for _ in range(7)] for _ in range(16)]
    for c in cores:
        c[3] += 100  # idle > 0, so every total delta is positive
    user_d = float(sum(c[0] for c in cores))
    total_d = float(sum(sum(c) for c in cores))
    cpu_val = min(max((user_d / total_d) * 100.0, 0.0), 100.0)
    cbases = [[rng.randint(10 ** 6, 10 ** 8) for _ in range(7)] for _ in range(16)]
    stray = rng.randrange(n) if rng.random() < 0.2 else None
    for i in range(n):
        for ci, (inc, base) in enumerate(zip(cores, cbases)):
            lines["cpu"][host].append("%s,%s,%s,%d,%s" % (
                jid, host, ts_text[idx + i], ci,
                ",".join(str(b + x * i) for b, x in zip(base, inc))))
        if i == stray:  # a null-device row: cpu drops it before the node sum
            lines["cpu"][host].append("%s,%s,%s,%s,%s" % (
                jid, host, ts_text[idx + i], rng.choice(("NA", "NULL", "")),
                ",".join(str(rng.randint(0, 10 ** 9)) for _ in range(7))))
    # --- llite: constant byte increments, resets and exact duplicates
    rd, wr = rng.randint(0, 5 * 10 ** 7), rng.randint(0, 5 * 10 ** 7)
    nfs_val = max((rd + wr) / 600.0 / MIB, 0.0)
    llite_reset = rng.randint(2, length - 2) if rng.random() < 0.15 else None
    dup = rng.randint(1, length - 1) if rng.random() < 0.2 else None
    rb, wb = rng.randint(10 ** 9, 10 ** 11), rng.randint(10 ** 9, 10 ** 11)
    for i in range(n):
        k, b1, b2 = i, rb, wb
        if llite_reset is not None and i >= llite_reset:
            k, b1, b2 = i - llite_reset, 3, 5
        line = "%s,%s,%s,%d,%d" % (jid, host, ts_text[idx + i], b1 + rd * k, b2 + wr * k)
        lines["llite"][host].append(line)
        if i == dup:
            lines["llite"][host].append(line)
    # --- mem: constant gauges in bytes
    total = 32 * 2 ** 30
    used = rng.randint(2 ** 18, 7 * 2 ** 21) * 4096
    cache = rng.randint(0, used // 4096) * 4096
    free = total - used if not mem_used_col else total - used - rng.randint(1, 2 ** 18) * 4096
    mem_vals = {"memused": max(used / GIB, 0.0),
                "memused_minus_diskcache": max((used - cache) / GIB, 0.0)}
    for i in range(n):
        if mem_used_col:
            lines["mem"][host].append("%s,%s,%s,%d,%d,%d,%d" % (
                jid, host, ts_text[idx + i], total, free, used, cache))
        else:
            lines["mem"][host].append("%s,%s,%s,%d,%d,%d" % (
                jid, host, ts_text[idx + i], total, free, cache))
    # store (step-1 output) row counts: rate rows for samples 1..n-1 minus
    # the reset sample; two mem events for every sample
    counts["block"] += length - (block_reset is not None)
    counts["cpuuser"] += length
    counts["nfs"] += length - (llite_reset is not None)
    counts["memused"] += n
    counts["memused_minus_diskcache"] += n
    out = []
    for i in range(length):  # sample `length` sits at `end`: excluded
        vals = dict(mem_vals)
        if i >= 1:
            vals["cpuuser"] = cpu_val
            if i != block_reset:
                vals["block"] = block_val
            if i != llite_reset:
                vals["nfs"] = nfs_val
        out.append((i, vals))
    return out


def _junk_line(rng, fam, host, ts_text, mem_used_col):
    """A row whose key cell is a null sentinel: null jobID or timestamp."""
    jid, ts = rng.choice((("NA", ts_text[rng.randrange(len(ts_text))]),
                          ("NULL", ts_text[rng.randrange(len(ts_text))]),
                          ("", ts_text[rng.randrange(len(ts_text))]),
                          ("%d" % rng.randint(1, 99), "NA")))
    ncols = {"block": 3, "cpu": 8, "llite": 2, "mem": 4 if mem_used_col else 3}[fam]
    vals = ",".join(rng.choice(("NA", "NULL", "", "12")) for _ in range(ncols))
    return "%s,%s,%s,%s" % (jid, host, ts, vals)


# --------------------------------------------------------------- curate_docs

# doc_id and text of the sf0.1 test data's documents table (TESTDATA.md):
# 5,000 documents of 10-100 words over a 31-word vocabulary, 8 of them
# exact duplicates of another
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
# TextAnalysis.DefaultStopwords
STOPWORDS = frozenset(("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
                       "on", "for", "with", "as", "at", "by", "from", "that", "this"))
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
# Pipeline.curate's defaults
MIN_QUALITY, NEAR_DUP_K, CONTAMINATION_K = 0.5, 3, 8


def quality_score(tokens, text):
    """TextAnalysis.withQuality's composite score: the same double
    operations in the same order, so the result has the same bits."""
    n = len(tokens)
    punct = sum(1 for ch in text if ch in string.punctuation)
    punct_ratio = punct / max(len(text), 1)
    stop_ratio = sum(1 for w in tokens if w in STOPWORDS) / max(n, 1)
    s = (0.4 * min(n / 64.0, 1.0) + 0.4 * min(stop_ratio * 4.0, 1.0)
         + 0.2 * (1.0 - min(punct_ratio * 5.0, 1.0)))
    return min(max(s, 0.0), 1.0)


def shingles(tokens, k):
    """Distinct word k-grams, as Dedup.hashedWordShingles takes them: a
    document of fewer than k tokens is one gram."""
    if len(tokens) < k:
        return {" ".join(tokens)} if tokens else set()
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def near_dup_losers(sets):
    """Ids that are the larger id of a pair whose word-3-gram Jaccard is at
    least 0.8: Dedup.minhashDuplicates' losers, computed exactly.  Prefix
    filtering: a pair with |A & B| >= ceil(0.8 max(|A|, |B|)) shares an
    element of the first |X| - ceil(0.8 |X|) + 1 elements of each set X
    under any one global order, so only such pairs are verified."""
    freq = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    by_prefix = {}
    for did, s in sets.items():
        ordered = sorted(s, key=lambda g: (freq[g], g))
        for g in ordered[:len(s) - (4 * len(s) + 4) // 5 + 1]:
            by_prefix.setdefault(g, []).append(did)
    losers = set()
    for members in by_prefix.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = sorted((members[x], members[y]))
                if b in losers:
                    continue
                inter = len(sets[a] & sets[b])
                if 5 * inter >= 4 * (len(sets[a]) + len(sets[b]) - inter):
                    losers.add(b)
    return losers


def gen_curate(out, seed, base_docs, replicas, eval_docs):
    """A seeded rotated replica of the vendored documents table plus an
    eval set.  Replica r maps every word to the word `shift_r` places on in
    the sorted vocabulary and rotates the row-to-id assignment, so lengths,
    vocabulary and duplicate structure are those of the source table while
    no two replicas share text.  Plants near-duplicate clusters (one word
    replaced per copy), documents holding a verbatim 12-word span of an eval
    document, low-quality documents (punctuation-heavy) and PII tokens.
    The ground truth is computed from the written texts: exact near-dup
    losers, 8-gram contamination and the quality score."""
    rng = random.Random(seed)
    base = [t.split() for t in pq.read_table(CORPUS, columns=["text"]).column("text")
            .to_pylist()[:base_docs]]
    vocab = sorted({w for t in base for w in t})
    index = {w: i for i, w in enumerate(vocab)}
    shifts = rng.sample(range(len(vocab)), replicas + 1)  # the last one is the eval set's

    def rotate(tokens, shift):
        return [vocab[(index[w] + shift) % len(vocab)] for w in tokens]

    n = len(base)
    docs = {}
    for r in range(replicas):
        off = rng.randrange(n)
        for i, t in enumerate(base):
            docs[r * n + (i + off) % n] = rotate(t, shifts[r])
    evals = [rotate(base[j], shifts[-1]) for j in rng.sample(range(n), eval_docs)]

    def pii():
        kinds = {"n_emails": 0, "n_ips": 0, "n_phones": 0}
        toks = []
        for _ in range(rng.choice((0, 0, 0, 1, 2, 3))):
            kind = rng.choice(("n_emails", "n_ips", "n_phones"))
            kinds[kind] += 1
            toks.append({
                "n_emails": lambda: "%s.%s@%s.org" % (rng.choice(vocab), rng.choice(vocab),
                                                      rng.choice(vocab)),
                "n_ips": lambda: "10.%d.%d.%d" % (rng.randint(0, 255), rng.randint(0, 255),
                                                  rng.randint(1, 254)),
                "n_phones": lambda: "%03d-%03d-%04d" % (rng.randint(200, 999),
                                                       rng.randint(200, 999),
                                                       rng.randint(0, 9999)),
            }[kind]())
        return toks, kinds

    ids = sorted(docs)
    dup_bases = rng.sample([d for d in ids if len(docs[d]) >= 70], len(ids) // 50)
    taken = set(dup_bases)
    picked = rng.sample([d for d in ids if d not in taken], 2 * (len(ids) // 40))
    contaminated, low_quality = picked[:len(picked) // 2], picked[len(picked) // 2:]
    taken.update(picked)
    pii_counts = {}
    for did in ids:
        if did in taken and did not in dup_bases:
            continue
        toks, pii_counts[did] = pii()
        for t in toks:
            docs[did].insert(rng.randrange(len(docs[did]) + 1), t)
    for did in contaminated:
        ev = evals[rng.randrange(len(evals))]
        span = min(12, len(ev))
        at = rng.randrange(len(ev) - span + 1)
        cut = rng.randrange(len(docs[did]) + 1)
        docs[did][cut:cut] = ev[at:at + span]
    for did in low_quality:
        docs[did] = [w + rng.choice(("!!!", "$$", "##", "??", ";;")) for w in docs[did]]
    copies, next_id = [], replicas * n
    for did in dup_bases:
        plain = [i for i, w in enumerate(docs[did]) if w in index]  # never a PII token
        for _ in range(rng.choice((1, 2))):
            w = list(docs[did])
            w[rng.choice(plain)] = rng.choice(vocab)
            docs[next_id] = w
            pii_counts[next_id] = pii_counts[did]
            copies.append(next_id)
            next_id += 1

    texts = {did: " ".join(t) for did, t in docs.items()}
    eval_grams = set().union(*(shingles(e, CONTAMINATION_K) for e in evals))
    truth = {
        "losers": near_dup_losers({d: shingles(t, NEAR_DUP_K) for d, t in docs.items()}),
        "contaminated": {d for d, t in docs.items()
                         if not shingles(t, CONTAMINATION_K).isdisjoint(eval_grams)},
        "low_quality": {d for d, t in docs.items() if quality_score(t, texts[d]) < MIN_QUALITY},
    }
    for name, planted in (("losers", copies), ("contaminated", contaminated),
                          ("low_quality", low_quality)):
        if not truth[name].issuperset(planted):
            raise AssertionError("a planted %s document is not one" % name)
    dropped = truth["losers"] | truth["contaminated"] | truth["low_quality"]
    truth["kept"] = {d: pii_counts[d] for d in docs if d not in dropped}

    order = sorted(texts)
    rng.shuffle(order)
    docs_path = os.path.join(out, "docs.parquet")
    pq.write_table(pa.table({"doc_id": order, "text": [texts[d] for d in order]},
                            schema=DOCS_SCHEMA), docs_path, compression="zstd")
    eval_path = os.path.join(out, "eval.parquet")
    pq.write_table(pa.table({"doc_id": list(range(len(evals))),
                             "text": [" ".join(e) for e in evals]},
                            schema=DOCS_SCHEMA), eval_path, compression="zstd")
    truth.update(input_rows=len(texts),
                 input_bytes=os.path.getsize(docs_path) + os.path.getsize(eval_path))
    return truth


GENERATORS = {"fresco_e2e": gen_fresco_e2e, "curate_docs": gen_curate}


def generate(workload, out, seed, shape="full"):
    """Write `workload`'s inputs under `out` and return its ground truth."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](out, seed, **SHAPES[workload][shape])
