"""Seeded inputs for the benchmark's workloads.

    make_catalog(dir, sf)            the parquet tables the declared queries read
    make_pipeline(dir, seed, lines)  a line corpus, its NDJSON twin, gasket.json
                                     and units.tsv: each CLI invocation with the
                                     digest of its expected stdout

The catalog corpus has a fixed seed, so the golden digests hold for every
run; a run's --seed only permutes query order. The pipeline corpus is made
from the run's seed, and its expected outputs are computed here, without
Spark: Python for the modules, the same shell commands for command stages.
"""
import hashlib
import json
import os
import random
import re
import subprocess

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 20240101
MASK = (1 << 64) - 1

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]


# ------------------------------------------------------------------ catalog

def make_catalog(out, sf):
    """Tables shaped like the repository's TPC-H-style test corpus: same
    names, columns, parquet types and value domains, row counts ~ sf."""
    os.makedirs(out, exist_ok=True)

    def n(base):
        return max(1, round(base * sf))

    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    n_line, n_evt, n_user, n_doc = n(6000000), n(1000000), n(15000), max(500, n(50000))

    def rng(table):
        return np.random.default_rng([CATALOG_SEED, table])

    def pick(r, xs, size):
        return np.asarray(xs, dtype=object)[r.integers(0, len(xs), size)]

    def days(start, offsets):
        return (np.datetime64(start, "us") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32, i64 = pa.int32(), pa.int64()
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    r = rng(1)
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = rng(2)
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    r = rng(3)
    colors = ["blue", "green", "red", "small", "large", "shiny", "dull", "black"]
    nouns = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pick(r, colors, n_part) + " " + pick(r, nouns, n_part),
        "p_brand": pick(r, [f"Brand#{b}" for b in range(1, 26)], n_part),
        "p_type": pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    r = rng(4)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": days("1995-01-01", r.integers(0, 2404, n_ord)),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = rng(5)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", r.integers(0, 2499, n_line))})
    r = rng(6)
    step = 30 * 86400 * 1000000 // n_evt  # strictly increasing over January 2024
    ts_us = np.arange(n_evt, dtype=np.int64) * step + r.integers(0, step, n_evt)
    write("events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": (np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, n_user, n_evt), i64),
        "event_type": pick(r, ["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(-np.log(r.random(n_evt) + 1e-6) * 30.0 + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})
    # every 20th document (on average) is a near-duplicate: a prefix of
    # another document's words plus the token "dup"
    r = rng(7)
    words = [list(pick(r, VOCAB, k)) for k in r.integers(10, 100, n_doc)]
    src = r.integers(0, n_doc, n_doc)
    dup = r.random(n_doc) < 0.05
    texts = [" ".join(words[s][:max(10, int(len(words[s]) * 0.6))] + ["dup"])
             if d and s != i else " ".join(words[i])
             for i, (s, d) in enumerate(zip(src, dup))]
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.where(r.random(n_doc) < 0.44, "en", pick(r, ["de", "es", "fr", "zh"], n_doc)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    r = rng(8)
    v = r.uniform(-1.0, 1.0, (n_doc, 64))
    v = (v / np.sqrt((v * v).sum(axis=1, keepdims=True))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_doc), i32)})


# ----------------------------------------------------------------- pipeline

LINE_WORDS = ["Spark", "stream", "ERROR", "error", "Warn", "warning", "Data", "pipeline",
              "merge", "Sort", "table", "row", "JOIN", "key", "Value", "batch", "window",
              "Query", "scan", "filter", "node", "Shard", "commit", "retry"]

# grep exits 1 when a partition has no match; only 2 and above is an error
GREP_ERROR = "grep -i 'error' || test $? -eq 1"
GREP_WARN = "grep -i 'warn' || test $? -eq 1"
GREP_AT = "grep '@' || test $? -eq 1"
LINES, NDJSON = "lines.txt", "lines.ndjson"

# The six composition types: pipe, fork, map (tee), reduce (fan-in), json
# module stages, and a multi-segment run whose outputs concatenate in order.
SPEC = {
    "clean": ["tr 'A-Z' 'a-z'", "grep -v '^#'", {"module": "normalize"},
              {"module": "redact"}, {"module": "dedup-lines"}],
    "fork": [{"command": GREP_ERROR, "type": "fork"}, {"command": "tr -d '0-9'", "type": "fork"}],
    "tee": [{"command": "sed 's/  */ /g'", "type": "map"}, {"module": "uppercase", "type": "map"},
            {"command": GREP_AT, "type": "map"}],
    "fanin": [{"module": "linecount", "type": "reduce"}, {"command": GREP_WARN, "type": "reduce"},
              {"command": GREP_AT, "type": "reduce"}],
    "records": [{"module": "redact", "json": True}, {"module": "normalize", "json": True}],
    "report": [{"command": f"grep -i 'error' {LINES} | sed 's/^/A /'", "type": "run"},
               {"command": f"sed -n 's/^#/B /p' {LINES}", "type": "run"},
               f"grep -c '@' {LINES} | sed 's/^/C /'"],
}
REPORT_BLOCKS = ["A ", "B ", "C "]


def lines_corpus(seed, n):
    """Log-like lines: mixed case, e-mail addresses, URLs, long digit runs,
    doubled spaces, `#` comments and planted duplicates (exact, and
    differing only in case)."""
    r = random.Random(seed)

    def k(m):
        return int(r.random() * m)

    def word():
        c = k(40)
        return (f"user{k(500)}@example.com" if c == 0 else f"first.last{k(50)}@mail.org" if c == 1 else
                str(10000 + k(900000)) if c == 2 else f"http://example.org/p/{k(100)}" if c == 3 else
                LINE_WORDS[k(len(LINE_WORDS))])

    out = []
    while len(out) < n:
        c = k(100)
        if c < 8 and out:
            out.append(out[k(len(out))])
        elif c < 12 and out:
            out.append(out[k(len(out))].upper())
        elif c < 15:
            out.append(f"# note {k(1000)}")
        else:
            sep = "  " if k(10) == 0 else " "
            out.append(sep.join(word() for _ in range(3 + k(12))))
    return out


def hash64(s):
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")


def bag(lines):
    """Order-insensitive digest, as perfbench/Digest.scala computes it."""
    return f"{len(lines)}:{sum(hash64(l) for l in lines) & MASK:016x}"


def blocks(lines, prefixes):
    """Digest of ordered concat: blocks in prefix order, each a bag."""
    return "disorder=0 " + " ".join(bag([l for l in lines if l.startswith(p)]) for p in prefixes)


def make_pipeline(out, seed, n):
    os.makedirs(out, exist_ok=True)
    lines = lines_corpus(seed, n)
    with open(os.path.join(out, LINES), "w") as f:
        f.write("".join(l + "\n" for l in lines))
    with open(os.path.join(out, NDJSON), "w") as f:
        f.write("".join(f'{{"id":{i},"tag":"t{i % 7}","value":"{l}"}}\n' for i, l in enumerate(lines)))
    with open(os.path.join(out, "gasket.json"), "w") as f:
        json.dump(SPEC, f, indent=2)

    def sh(cmd, inp):
        r = subprocess.run(["/bin/sh", "-c", cmd], cwd=out, check=True, capture_output=True,
                           input="".join(l + "\n" for l in inp).encode())
        return r.stdout.decode().splitlines()

    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    url, num = re.compile(r"https?://[^ ]+"), re.compile(r"[0-9]{5,}")

    def normalize(s):  # Spark: trim(regexp_replace(lower(s), " +", " "))
        return re.sub(" +", " ", s.lower()).strip(" ")

    def redact(s):
        return num.sub("<NUM>", url.sub("<URL>", email.sub("<EMAIL>", s)))

    def clean(inp):
        return list(dict.fromkeys(redact(normalize(l)) for l in sh("grep -v '^#'", sh("tr 'A-Z' 'a-z'", inp))))

    def tee(inp):
        src = sh("sed 's/  */ /g'", inp)
        return [l.upper() for l in src] + sh(GREP_AT, src)

    report = (sh(SPEC["report"][0]["command"], []) + sh(SPEC["report"][1]["command"], []) +
              sh(SPEC["report"][2], []))
    records = [json.dumps({"id": i, "tag": f"t{i % 7}", "value": normalize(redact(l))},
                          separators=(",", ":")) for i, l in enumerate(lines)]
    cleaned = clean(lines)
    units = [  # argv, stdin, ordered blocks, expected stdout digest
        ("pipe clean", LINES, "-", bag(cleaned)),
        ("pipe fork", LINES, "-", bag(sh(GREP_ERROR, lines) + sh("tr -d '0-9'", lines))),
        ("pipe tee", LINES, "-", bag(tee(lines))),
        ("pipe fanin", LINES, "-", bag([str(len(sh(GREP_WARN, lines)) + len(sh(GREP_AT, lines)))])),
        ("pipe records", NDJSON, "-", bag(records)),
        ("pipe clean tee", LINES, "-", bag(tee(cleaned))),
        ("run report", "-", "|".join(REPORT_BLOCKS), blocks(report, REPORT_BLOCKS)),
    ]
    with open(os.path.join(out, "units.tsv"), "w") as f:
        f.write("# CLI argv, stdin file or -, block prefixes of ordered output or -, stdout digest\n")
        f.write("".join("\t".join(u) + "\n" for u in units))
