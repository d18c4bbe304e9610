"""Seeded input and truth generator for the perfbench workloads.

    python3 perfbench/gen.py --seed 7 --out /some/dir [--workload NAME ...]

Writes, per workload, ``<out>/<workload>/input/part-NNNNN.parquet`` in the
engine's input schema (doc_id string, tokens array<int>, n_tok int,
source string) and ``<out>/<workload>/truth.json`` with the results the
workload must produce, computed here from the generation parameters.
The parse workloads also get ``expected.parquet``: every row's decoded
line and header fields.

This module imports only numpy and pyarrow, never the engine, so the
truth it writes is independent of the code under test. The same seed
gives byte-identical inputs and truth.
"""

from __future__ import annotations

import argparse
import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = ("parse_route_agg", "route_write_lineage", "neardup_tokens")

# Input sizes. Rows for the two syslog workloads, documents for
# neardup_tokens. Once warm, one iteration takes 3.5-6.5 s on 4 vCPUs;
# README.md (Sizes) gives the curves they were chosen from.
ROWS = {"parse_route_agg": 300_000, "route_write_lineage": 50_000}
ND_DOCS = 16_000
ND_CLUSTERS = 800          # planted near-copy clusters (base + 2 copies)
ND_EDITS = 2               # characters replaced in each copy
N_FILES = 16               # parquet files per input: splits for every core

# Lines with code points >= 128: fixed content, independent of the seed.
NONASCII_ROWS = 256

# The syslog input follows the line grammar of rsyslog_spark/corpus.py
# (the table bench.py and the tests parse), restated here so the truth
# does not come from the engine. Per row, as there: program = event type,
# severity set by the event type, facility = user % 24, host = user % 32,
# pid = row % 997, msgid = row % 100, body "msgnum:<row>: k=<k>". The
# event fields follow the repository's events test table (five event
# types in equal shares, k uniform over 0-99, 150 users, timestamps in
# January 2024). Shares from corpus.py: RFC5424 1/7 of the lines, half of
# those with structured data; sources src0/src1/src2 at 1/2, 1/4, 1/8 and
# the last 1/8 spread evenly over the remaining names (corpus.py spreads
# it over 13; here over 61, for 64 source names in all).
EVENT_TYPES = ["error", "purchase", "signup", "view", "click"]
SEVERITY = {"error": 3, "purchase": 5, "signup": 6, "view": 6, "click": 7}
N_USERS = 150
SHARE_5424 = 1 / 7
SHARE_SD = 1 / 2           # of the RFC5424 lines
N_SOURCES = 64
SOURCE_P = np.array([1 / 2, 1 / 4, 1 / 8] + [1 / 8 / (N_SOURCES - 3)]
                    * (N_SOURCES - 3))
SOURCE_P /= SOURCE_P.sum()
TS_FIRST, TS_DAYS = np.datetime64("2024-01-01T00:00:00", "s"), 31
# The benchmark's own site table for LookupTable.enrich(source -> site).
SITE_TABLE = [(f"src{i}", "site" + "ABCD"[i % 4]) for i in range(16)]
SITE_NOMATCH = "siteX"

# Flagship route script semantics (rsyslog_spark.flagship.ROUTE_SCRIPT):
# urgent = *.err, commerce = programname in COMMERCE then stop,
# k7 = msg contains "k=7", rest = everything not stopped.
SINKS = ("urgent", "commerce", "k7", "rest")
COMMERCE = ("error", "purchase")
NONASCII_WORDS = ["café", "naïve", "Zürich", "señal", "øre", "日本",
                  "Ωmega", "😀ok"]

FIELDS = ["rawmsg", "pri", "facility", "severity", "protocol_version",
          "timereported_str", "hostname", "syslogtag", "programname",
          "procid", "msgid", "structured_data", "msg", "parse_success"]


def _str(a) -> pa.Array:
    return pa.array(a).cast(pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _render(row: np.ndarray, prog: np.ndarray, user: np.ndarray,
            k: np.ndarray, ts: np.ndarray, is5424: np.ndarray,
            has_sd: np.ndarray, src: np.ndarray, body: pa.Array) -> pa.Table:
    """Render syslog lines of the corpus grammar, one per row, and the
    header fields each must parse to (``FIELDS``, with the line itself as
    ``rawmsg``), plus ``source``. ``prog`` indexes EVENT_TYPES, ``ts`` is
    seconds since TS_FIRST, ``src`` the source number."""
    prog_s = pa.array(EVENT_TYPES).take(pa.array(prog))
    fac = user % 24
    sev = np.array([SEVERITY[e] for e in EVENT_TYPES])[prog]
    pri = fac * 8 + sev
    host = _cat("host", _str(user % 32))
    pid = _str(row % 997)
    t = pa.array(TS_FIRST.astype(np.int64) + ts, pa.timestamp("s"))
    hms = pc.strftime(t, "%H:%M:%S")
    # RFC3164: <pri>Mmm _d hh:mm:ss host prog[pid]: body (MSG keeps the
    # space after the tag's colon)
    stamp3164 = _cat(pc.strftime(t, "%b"), " ",
                     pc.utf8_lpad(_str(pc.day(t)), 2, " "), " ", hms)
    tag = _cat(prog_s, "[", pid, "]:")
    line3164 = _cat("<", _str(pri), ">", stamp3164, " ", host, " ", tag, " ",
                    body)
    # RFC5424: <pri>1 ts host prog pid msgid sd body
    stamp5424 = pc.strftime(t, "%Y-%m-%dT%H:%M:%SZ")
    msgid = _cat("ID", _str(row % 100))
    sd = pc.if_else(pa.array(has_sd),
                    _cat('[ex@32473 k="', _str(k), '" src="', _str(src),
                         '"]'), "-")
    line5424 = _cat("<", _str(pri), ">1 ", stamp5424, " ", host, " ", prog_s,
                    " ", pid, " ", msgid, " ", sd, " ", body)
    v1 = pa.array(is5424)
    null = pa.nulls(len(row), pa.string())
    return pa.table({
        "rawmsg": pc.if_else(v1, line5424, line3164),
        "pri": pa.array(pri, pa.int32()),
        "facility": pa.array(fac, pa.int32()),
        "severity": pa.array(sev, pa.int32()),
        "protocol_version": pa.array(is5424.astype(np.int32)),
        "timereported_str": pc.if_else(v1, stamp5424, stamp3164),
        "hostname": host,
        "syslogtag": pc.if_else(v1, prog_s, tag),
        "programname": prog_s,
        "procid": pc.if_else(v1, pid, null),
        "msgid": pc.if_else(v1, msgid, null),
        "structured_data": pc.if_else(v1, sd, null),
        "msg": pc.if_else(v1, body, _cat(" ", body)),
        "parse_success": pa.array(np.ones(len(row), dtype=bool)),
        "source": _cat("src", _str(src)),
    })


def _seeded_rows(rng: np.random.Generator, n: int) -> pa.Table:
    row = np.arange(n)
    k = rng.integers(0, 100, size=n)
    t = _render(row, prog=rng.integers(0, len(EVENT_TYPES), size=n),
                user=rng.integers(0, N_USERS, size=n), k=k,
                ts=rng.integers(0, TS_DAYS * 86400, size=n),
                is5424=rng.random(n) < SHARE_5424,
                has_sd=rng.random(n) < SHARE_SD,
                src=rng.choice(N_SOURCES, size=n, p=SOURCE_P),
                body=_cat("msgnum:", pc.utf8_lpad(_str(row), 8, "0"),
                          ": k=", _str(k)))
    return t.add_column(0, "doc_id", _cat("doc-",
                                          pc.utf8_lpad(_str(row), 12, "0")))


def _nonascii_rows() -> pa.Table:
    """The fixed non-ASCII rows, in the same grammar. Their non-ASCII
    word sits at the end of the message, space-separated from ``k=``, so
    dropping it changes no route predicate and no aggregate key."""
    i = np.arange(NONASCII_ROWS)
    k = i % 100
    words = pa.array(NONASCII_WORDS).take(pa.array(i % len(NONASCII_WORDS)))
    t = _render(i, prog=i % len(EVENT_TYPES), user=i % N_USERS, k=k,
                ts=i * 9973, is5424=i % 7 == 0, has_sd=np.zeros(len(i), bool),
                src=i % N_SOURCES,
                body=_cat("msgnum:9", pc.utf8_lpad(_str(i), 7, "0"), ": k=",
                          _str(k), " note=", words))
    return t.add_column(0, "doc_id", _cat("na-",
                                          pc.utf8_lpad(_str(i), 5, "0")))


def _tokens_table(ids: list[str], lines: list[str],
                  sources: list[str]) -> pa.Table:
    """(doc_id, tokens, n_tok, source): tokens are the Unicode code points
    of each line."""
    lens = np.fromiter(map(len, lines), dtype=np.int32, count=len(lines))
    offs = np.zeros(len(lines) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    values = np.frombuffer("".join(lines).encode("utf-32-le"), np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offs), pa.array(values))
    return pa.table({"doc_id": pa.array(ids, pa.string()),
                     "tokens": tokens,
                     "n_tok": pa.array(lens, pa.int32()),
                     "source": pa.array(sources, pa.string())})


def _write_input(table: pa.Table, d: str) -> None:
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    for f in range(N_FILES):
        lo, hi = n * f // N_FILES, n * (f + 1) // N_FILES
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(d, f"part-{f:05d}.parquet"))


def route_truth(exp: pa.Table) -> dict[str, int]:
    """Per-sink counts under the flagship script's semantics."""
    stop = pc.is_in(exp["programname"], value_set=pa.array(COMMERCE))
    go = pc.invert(stop)
    k7 = pc.and_(go, pc.match_substring(exp["msg"], "k=7"))
    return {"urgent": pc.sum(pc.less_equal(exp["severity"], 3)).as_py(),
            "commerce": pc.sum(stop).as_py(),
            "k7": pc.sum(k7).as_py(),
            "rest": pc.sum(go).as_py()}


def gen_syslog(workload: str, seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    exp = _seeded_rows(rng, ROWS[workload])
    nonascii = []
    if workload == "parse_route_agg":
        fixed = _nonascii_rows()
        nonascii = fixed["doc_id"].to_pylist()
        # spread the fixed rows evenly over the input: fixed row j goes
        # after seeded row (j + 1) * step - 1
        n, m = exp.num_rows, fixed.num_rows
        pos = np.arange(n + m)
        at = (np.arange(m) + 1) * (n // m) + np.arange(m)
        seeded = np.setdiff1d(pos, at)
        order = np.empty(n + m, dtype=np.int64)
        order[seeded] = np.arange(n)
        order[at] = n + np.arange(m)
        exp = pa.concat_tables([exp, fixed]).take(pa.array(order))
    d = os.path.join(out, workload)
    _write_input(_tokens_table(exp["doc_id"].to_pylist(),
                               exp["rawmsg"].to_pylist(),
                               exp["source"].to_pylist()),
                 os.path.join(d, "input"))
    pq.write_table(exp.select(["doc_id"] + FIELDS),
                   os.path.join(d, "expected.parquet"))
    site = dict(SITE_TABLE)
    sites = pa.array([site.get(f"src{i}", SITE_NOMATCH)
                      for i in range(N_SOURCES)])
    src_num = pc.cast(pc.utf8_slice_codeunits(exp["source"], 3), pa.int64())
    agg = (exp.select(["facility", "severity", "source"])
           .append_column("site", sites.take(src_num))
           .group_by(["facility", "severity", "source", "site"])
           .aggregate([([], "count_all")]))
    truth = {
        "workload": workload, "seed": seed, "rows": exp.num_rows,
        "sinks": route_truth(exp),
        "parse_failures": pc.sum(pc.invert(exp["parse_success"])).as_py()
        or 0,
        "nonascii_ids": nonascii,
        "rfc5424_rows": pc.sum(exp["protocol_version"]).as_py(),
        "agg": sorted(list(r.values()) for r in agg.to_pylist()),
        "site_table": SITE_TABLE, "site_nomatch": SITE_NOMATCH,
    }
    with open(os.path.join(d, "truth.json"), "w") as fh:
        json.dump(truth, fh)


# --- neardup_tokens ---------------------------------------------------------

ND_TEMPLATES = [
    "<{pri}>{mon} {day:2d} {hms} web{h} nginx[{pid}]: GET /{w}/{x} status={n} "
    "bytes={m} ua={y}",
    "<{pri}>{mon} {day:2d} {hms} db{h} postgres[{pid}]: duration={n}ms "
    "stmt=select {w} from t{x} where id={m} txn={y}",
    "<{pri}>{mon} {day:2d} {hms} gw{h} sshd[{pid}]: accepted key {x} for {w} "
    "from 10.{n}.{m}.{h} session={y}",
    "<{pri}>{mon} {day:2d} {hms} app{h} worker[{pid}]: job={x} queue={w} "
    "took={n}ms retries={m} trace={y}",
]
ND_WORDS = ["alpha", "bravo", "delta", "echo", "golf", "hotel", "india",
            "kilo", "lima", "oscar", "papa", "romeo", "tango", "zulu"]
ND_LINES = 4
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
GRAM_K = 4          # token_minhash_pairs defaults
THRESHOLD = 0.7
# Margin below THRESHOLD that a returned pair's exact Jaccard may sit: a
# 64-hash estimate has a standard error of about 0.057 at J = 0.7.
EST_MARGIN = 0.2


def gram_set(tokens: np.ndarray, k: int = GRAM_K) -> np.ndarray:
    """Distinct k-grams of a code-point array, packed 16 bits per token."""
    t = np.asarray(tokens, dtype=np.uint64)
    if t.size < k:
        t = np.pad(t, (0, k - t.size))
    w = np.lib.stride_tricks.sliding_window_view(t, k)
    packed = np.zeros(w.shape[0], dtype=np.uint64)
    for j in range(k):
        packed = (packed << np.uint64(16)) | (w[:, j] & np.uint64(0xFFFF))
    return np.unique(packed)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    inter = np.intersect1d(a, b, assume_unique=True).size
    return inter / (a.size + b.size - inter)


def _nd_doc(rng: np.random.Generator) -> str:
    lines = []
    for _ in range(ND_LINES):
        t = ND_TEMPLATES[rng.integers(len(ND_TEMPLATES))]
        s = int(rng.integers(86400))
        lines.append(t.format(
            pri=int(rng.integers(192)), mon=MONTHS[rng.integers(12)],
            day=int(rng.integers(1, 29)),
            hms=f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",
            h=int(rng.integers(256)), pid=int(rng.integers(1, 32768)),
            w=ND_WORDS[rng.integers(len(ND_WORDS))],
            x=format(int(rng.integers(1 << 40)), "010x"),
            n=int(rng.integers(100000)), m=int(rng.integers(1 << 30)),
            y=format(int(rng.integers(1 << 62)), "016x")))
    return "\n".join(lines)


def _edit(rng: np.random.Generator, doc: str, edits: int) -> str:
    """Replace ``edits`` characters at well-separated positions."""
    chars = list(doc)
    seg = len(chars) // edits
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    for e in range(edits):
        while True:
            p = e * seg + int(rng.integers(seg))
            if chars[p] != "\n":
                break
        old = chars[p]
        while chars[p] == old:
            chars[p] = alphabet[rng.integers(len(alphabet))]
    return "".join(chars)


def gen_neardup(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, WORKLOADS.index("neardup_tokens")])
    n_unique = ND_DOCS - 3 * ND_CLUSTERS
    docs = [_nd_doc(rng) for _ in range(n_unique + ND_CLUSTERS)]
    bases = docs[n_unique:]
    clusters = []
    for c, b in enumerate(bases):
        members = [n_unique + c]
        for _ in range(2):
            docs.append(_edit(rng, b, ND_EDITS))
            members.append(len(docs) - 1)
        clusters.append(members)
    perm = rng.permutation(len(docs))  # doc ids carry no cluster order
    ids = [""] * len(docs)
    for new, old in enumerate(perm):
        ids[old] = f"nd-{new:07d}"
    grams = [gram_set(np.frombuffer(d.encode("utf-32-le"), np.int32))
             for d in docs]
    planted = []
    for c in clusters:
        for i in range(3):
            for j in range(i + 1, 3):
                a, b = sorted((c[i], c[j]), key=lambda m: ids[m])
                planted.append([ids[a], ids[b],
                                jaccard(grams[a], grams[b])])
    order = np.argsort(ids)
    d = os.path.join(out, "neardup_tokens")
    _write_input(_tokens_table([ids[i] for i in order],
                               [docs[i] for i in order],
                               [f"src{i % N_SOURCES}" for i in order]),
                 os.path.join(d, "input"))
    truth = {"workload": "neardup_tokens", "seed": seed, "rows": len(docs),
             "planted": sorted(planted), "threshold": THRESHOLD,
             "margin": EST_MARGIN, "gram_k": GRAM_K,
             "min_planted_jaccard": min(p[2] for p in planted)}
    with open(os.path.join(d, "truth.json"), "w") as fh:
        json.dump(truth, fh)


def generate(workload: str, seed: int, out: str) -> None:
    if workload == "neardup_tokens":
        gen_neardup(seed, out)
    else:
        gen_syslog(workload, seed, out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    a = ap.parse_args()
    for w in a.workload or WORKLOADS:
        generate(w, a.seed, a.out)


if __name__ == "__main__":
    main()
