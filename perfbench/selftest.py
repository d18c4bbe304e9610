"""Self-tests for the perfbench output checkers.

    python3 perfbench/selftest.py

Generates the seed-0 inputs and truth (no Spark session), builds each
workload's output as the truth says it should be, and expects the
checkers to pass it. Then tampers with it (a count off by one, a dropped
or repeated pair, a mangled or missing row) and expects every tampered
case to be caught. Exits non-zero if any expectation fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


class Cases:
    def __init__(self):
        self.bad = 0

    def expect(self, name: str, v: checks.Verdict, failed: int = 0,
               problems: bool = False) -> None:
        ok = v.failed == failed and bool(v.problems) == problems
        self.bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: failed={v.failed} "
              f"(want {failed}), problems={v.problems[:1]}")


def _load(d: str) -> dict:
    with open(os.path.join(d, "truth.json")) as fh:
        return json.load(fh)


def route_agg_cases(c: Cases, d: str) -> None:
    truth = _load(d)
    sinks = dict(truth["sinks"])
    agg = [tuple(r) for r in truth["agg"]]
    c.expect("route_agg truthful", checks.check_route_agg(truth, sinks, agg))
    c.expect("route_agg sink off by one", checks.check_route_agg(
        truth, {**sinks, "k7": sinks["k7"] + 1}, agg), problems=True)
    c.expect("route_agg commerce and rest moved together",
             checks.check_route_agg(truth, {
                 **sinks, "commerce": sinks["commerce"] + 1,
                 "rest": sinks["rest"] - 1}, agg), problems=True)
    bumped = [agg[0][:4] + (agg[0][4] + 1,)] + agg[1:]
    c.expect("route_agg aggregate off by one",
             checks.check_route_agg(truth, sinks, bumped), problems=True)
    c.expect("route_agg aggregate row dropped",
             checks.check_route_agg(truth, sinks, agg[1:]), problems=True)

    exp = pq.read_table(os.path.join(d, "expected.parquet"))
    c.expect("rows truthful", checks.check_rows(exp, exp)[0])

    # the JVM decode fault: code points >= 128 vanish from the line
    def strip(col):
        return pa.array([None if s is None else
                         "".join(ch for ch in s if ord(ch) < 128)
                         for s in col.to_pylist()], pa.string())

    faulty = exp.set_column(exp.schema.get_field_index("rawmsg"), "rawmsg",
                            strip(exp["rawmsg"]))
    faulty = faulty.set_column(faulty.schema.get_field_index("msg"), "msg",
                               strip(faulty["msg"]))
    known = frozenset(truth["nonascii_ids"])
    c.expect("rows with non-ASCII code points dropped",
             checks.check_rows(exp, faulty, known)[0],
             failed=len(known))
    c.expect("rows with non-ASCII code points dropped, none allowed",
             checks.check_rows(exp, faulty)[0],
             failed=len(known), problems=True)
    # a wrong row outside the known fault is a problem, not only a failure
    host = exp["hostname"].to_pylist()
    i = next(k for k, h in enumerate(host) if h is not None)
    host[i] = host[i] + "x"
    mangled = exp.set_column(exp.schema.get_field_index("hostname"),
                             "hostname", pa.array(host, pa.string()))
    c.expect("rows one hostname mangled",
             checks.check_rows(exp, mangled, known)[0], failed=1,
             problems=True)
    both = faulty.set_column(faulty.schema.get_field_index("hostname"),
                             "hostname", pa.array(host, pa.string()))
    c.expect("rows non-ASCII dropped and one other row mangled",
             checks.check_rows(exp, both, known)[0], failed=len(known) + 1,
             problems=True)
    c.expect("rows one row missing",
             checks.check_rows(exp, exp.slice(1), known)[0], failed=1,
             problems=True)
    c.expect("rows one row repeated", checks.check_rows(
        exp, pa.concat_tables([exp, exp.slice(7, 1)]), known)[0], failed=1,
        problems=True)
    nulled = exp.set_column(
        exp.schema.get_field_index("parse_success"), "parse_success",
        pc.if_else(pc.equal(exp["doc_id"], exp["doc_id"][3]),
                   pa.scalar(None, pa.bool_()), exp["parse_success"]))
    c.expect("rows one field null",
             checks.check_rows(exp, nulled, known)[0], failed=1,
             problems=True)


def _fake_lineage_output(out: str, truth: dict, run_id: str,
                         short_sink: str | None = None,
                         rows_in_delta: int = 0,
                         partition_delta: int = 0) -> None:
    for s in gen.SINKS:
        n = truth["sinks"][s] - (s == short_sink)
        os.makedirs(os.path.join(out, s))
        pq.write_table(pa.table({"doc_id": [f"d{i}" for i in range(n)]}),
                       os.path.join(out, s, "part-00000.parquet"))
    row = {"rows_in": truth["rows"] + rows_in_delta,
           "parse_failures": truth["parse_failures"], "run_id": run_id}
    row.update({f"routed_{s}": truth["sinks"][s] for s in gen.SINKS})
    os.makedirs(os.path.join(out, "_lineage"))
    pq.write_table(pa.Table.from_pylist([row]),
                   os.path.join(out, "_lineage", "part-00000.parquet"))
    half = truth["rows"] // 2
    parts = [{"partition_id": 0, "rows_in": half, "run_id": run_id},
             {"partition_id": 1,
              "rows_in": truth["rows"] - half + partition_delta,
              "run_id": run_id}]
    os.makedirs(os.path.join(out, "_lineage_partitions"))
    pq.write_table(pa.Table.from_pylist(parts),
                   os.path.join(out, "_lineage_partitions",
                                "part-00000.parquet"))


def lineage_cases(c: Cases, d: str, tmp: str) -> None:
    truth = _load(d)
    snap = {"rows_in": truth["rows"],
            "parse_failures": truth["parse_failures"], "run_id": "r1"}
    snap.update({f"routed_{s}": truth["sinks"][s] for s in gen.SINKS})

    def run(name, snap=snap, **tamper):
        out = os.path.join(tmp, name)
        _fake_lineage_output(out, truth, "r1", **tamper)
        return checks.check_lineage(truth, snap,
                                    checks.read_lineage_output(out))

    c.expect("lineage truthful", run("ok"))
    c.expect("lineage sink read-back off by one",
             run("short", short_sink="urgent"), failed=1)
    c.expect("lineage _lineage rows_in off by one",
             run("rows_in", rows_in_delta=1), problems=True)
    c.expect("lineage partition rows_in sum off by one",
             run("parts", partition_delta=-1), problems=True)
    c.expect("lineage snapshot routed count off by one",
             run("snap", snap={**snap, "routed_k7": snap["routed_k7"] + 1}),
             problems=True)
    c.expect("lineage row of another run",
             run("other", snap={**snap, "run_id": "r2"}), problems=True)


def pair_cases(c: Cases, d: str) -> None:
    truth = _load(d)
    grams = checks.DocGrams(os.path.join(d, "input"), truth["gram_k"])
    pairs = [(a, b, j) for a, b, j in truth["planted"]]
    c.expect("pairs truthful", checks.check_pairs(truth, pairs, grams))
    c.expect("pairs one dropped",
             checks.check_pairs(truth, pairs[1:], grams), failed=1)
    c.expect("pairs one repeated",
             checks.check_pairs(truth, pairs + pairs[:1], grams),
             problems=True)
    a, b, j = pairs[0]
    c.expect("pairs one with id_a > id_b",
             checks.check_pairs(truth, [(b, a, j)] + pairs[1:], grams),
             failed=1, problems=True)
    c.expect("pairs one estimate below the margin", checks.check_pairs(
        truth, [(a, b, 0.3)] + pairs[1:], grams), problems=True)
    planted_ids = {x for p in pairs for x in p[:2]}
    x, y = sorted(i for i in grams.tokens if i not in planted_ids)[:2]
    c.expect("pairs unrelated documents returned", checks.check_pairs(
        truth, pairs + [(x, y, 0.9)], grams), problems=True)


def main() -> int:
    base = os.path.join(os.path.dirname(HERE), ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        for w in gen.WORKLOADS:
            gen.generate(w, 0, tmp)
        c = Cases()
        route_agg_cases(c, os.path.join(tmp, "parse_route_agg"))
        lineage_cases(c, os.path.join(tmp, "route_write_lineage"),
                      os.path.join(tmp, "lineage-cases"))
        pair_cases(c, os.path.join(tmp, "neardup_tokens"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("all checker self-tests passed" if not c.bad
          else f"{c.bad} checker self-tests FAILED")
    return 1 if c.bad else 0


if __name__ == "__main__":
    sys.exit(main())
