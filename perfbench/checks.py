"""Output checkers for the perfbench workloads.

Plain Python, numpy and pyarrow over data already pulled out of Spark,
so ``selftest.py`` can feed them tampered outputs without a session.

Each checker returns a :class:`Verdict`. ``attempted``/``failed`` count
the workload's operations (rows, sink writes, planted pairs);
``problems`` lists property or truth violations that make the run
incorrect.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import FIELDS, SINKS, gram_set, jaccard


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def add(self, other: "Verdict") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems


def _diff(got: dict, want: dict, limit: int = 3) -> str:
    keys = sorted(set(got) | set(want), key=repr)
    bad = [(k, got.get(k), want.get(k)) for k in keys
           if got.get(k) != want.get(k)]
    return f"{len(bad)} differ, e.g. " + ", ".join(
        f"{k}: got {g} want {w}" for k, g, w in bad[:limit])


def check_route_agg(truth: dict, sinks: dict[str, int],
                    agg_rows: list[tuple]) -> Verdict:
    """parse_route_agg iteration output: per-sink counts and the
    facility x severity x source x site counts equal the truth; stop
    semantics (rest + commerce = rows) and the aggregate total hold."""
    v = Verdict()
    n = truth["rows"]
    if sinks != truth["sinks"]:
        v.problems.append("sink counts: " + _diff(sinks, truth["sinks"]))
    if sinks.get("rest", 0) + sinks.get("commerce", 0) != n:
        v.problems.append(f"rest + commerce != {n} rows")
    got = {tuple(r[:4]): r[4] for r in agg_rows}
    if len(got) != len(agg_rows):
        v.problems.append("aggregate has repeated keys")
    want = {tuple(r[:4]): r[4] for r in truth["agg"]}
    if got != want:
        v.problems.append("aggregate counts: " + _diff(got, want))
    if sum(r[4] for r in agg_rows) != n:
        v.problems.append(f"aggregate counts do not sum to {n} rows")
    return v


def _null_safe_equal(a: pa.ChunkedArray, b: pa.ChunkedArray) -> pa.Array:
    eq = pc.fill_null(pc.equal(a, b), False)
    both_null = pc.and_(pc.is_null(a), pc.is_null(b))
    return pc.or_(eq, both_null)


def check_rows(expected: pa.Table, got: pa.Table,
               may_fail: frozenset[str] = frozenset()
               ) -> tuple[Verdict, list]:
    """Every input row's decoded line and header fields against the
    generated values. One operation per expected row; a row that is
    missing, repeated or differs in any field fails. Rows outside
    ``may_fail`` (the rows of the known fault) must not fail: any that
    does is a problem. Returns the verdict and the failing doc_ids."""
    got = got.select(["doc_id"] + FIELDS).cast(expected.schema)
    seen = Counter(got["doc_id"].to_pylist())
    once = pa.array([d for d, c in seen.items() if c == 1], pa.string())
    got = got.filter(pc.is_in(got["doc_id"], value_set=once))
    got = got.append_column("present", pa.array(
        np.ones(got.num_rows, dtype=bool)))
    j = expected.join(got, "doc_id", join_type="left outer",
                      right_suffix="_got")
    ok = pc.fill_null(j["present"], False)
    for f in FIELDS:
        ok = pc.and_(ok, _null_safe_equal(j[f + "_got"], j[f]))
    bad = sorted(j.filter(pc.invert(ok))["doc_id"].to_pylist())
    v = Verdict(attempted=expected.num_rows, failed=len(bad))
    other = [d for d in bad if d not in may_fail]
    if other:
        v.problems.append(f"{len(other)} rows outside the known fault "
                          f"decode or parse wrongly, e.g. {other[:3]}")
    return v, bad


def read_lineage_output(out: str, sinks=SINKS) -> dict:
    """What one run_with_lineage call left on disk: per-sink row counts,
    the run-level _lineage rows and the per-partition rows."""
    return {
        "counts": {s: ds.dataset(os.path.join(out, s), format="parquet")
                   .count_rows() for s in sinks},
        "lineage": pq.read_table(os.path.join(out, "_lineage")).to_pylist(),
        "partitions": pq.read_table(
            os.path.join(out, "_lineage_partitions")).to_pylist(),
    }


def check_lineage(truth: dict, snap: dict, on_disk: dict) -> Verdict:
    """route_write_lineage iteration: each sink write is one operation and
    fails if its read-back row count differs from the truth. The
    returned snapshot, the _lineage row and the per-partition rows_in sum
    must match the truth."""
    v = Verdict(attempted=len(SINKS))
    for s in SINKS:
        if on_disk["counts"].get(s) != truth["sinks"][s]:
            v.failed += 1
    want = {"rows_in": truth["rows"],
            "parse_failures": truth["parse_failures"]}
    want.update({f"routed_{s}": truth["sinks"][s] for s in SINKS})
    got_snap = {k: snap.get(k) for k in want}
    if got_snap != want:
        v.problems.append("lineage snapshot: " + _diff(got_snap, want))
    rows = [r for r in on_disk["lineage"] if r.get("run_id") == snap.get(
        "run_id")]
    if len(rows) != 1:
        v.problems.append(f"{len(rows)} _lineage rows for the run")
    else:
        got_row = {k: rows[0].get(k) for k in want}
        if got_row != want:
            v.problems.append("_lineage row: " + _diff(got_row, want))
    parts = [r for r in on_disk["partitions"]
             if r.get("run_id") == snap.get("run_id")]
    if sum(r["rows_in"] for r in parts) != truth["rows"]:
        v.problems.append("per-partition rows_in does not sum to "
                          f"{truth['rows']}")
    return v


class DocGrams:
    """Exact k-gram sets of the generated documents, built on demand."""

    def __init__(self, input_dir: str, k: int):
        t = ds.dataset(input_dir, format="parquet").to_table(
            columns=["doc_id", "tokens"])
        self.k = k
        self.tokens = dict(zip(t["doc_id"].to_pylist(), _lists(t["tokens"])))
        self._grams: dict[str, np.ndarray] = {}

    def jaccard(self, a: str, b: str) -> float:
        for d in (a, b):
            if d not in self._grams:
                self._grams[d] = gram_set(self.tokens[d], self.k)
        return jaccard(self._grams[a], self._grams[b])


def _lists(col: pa.ChunkedArray) -> list[np.ndarray]:
    out = []
    for ch in col.chunks:
        offs = ch.offsets.to_numpy()
        vals = ch.values.to_numpy()
        out += [vals[offs[i]:offs[i + 1]] for i in range(len(ch))]
    return out


def check_pairs(truth: dict, pairs: list[tuple], grams: DocGrams) -> Verdict:
    """neardup_tokens iteration: each planted pair is one operation and
    fails if it is missing. Every returned pair appears once with
    id_a < id_b, and both its estimate and its exact k-gram Jaccard
    clear threshold - margin."""
    planted = {(a, b) for a, b, _j in truth["planted"]}
    floor = round(truth["threshold"] - truth["margin"], 6)
    got = [(a, b) for a, b, _e in pairs]
    v = Verdict(attempted=len(planted))
    v.failed = len(planted - set(got))
    if len(set(got)) != len(got):
        v.problems.append(f"{len(got) - len(set(got))} repeated pairs")
    unordered = [p for p in got if not p[0] < p[1]]
    if unordered:
        v.problems.append(f"{len(unordered)} pairs without id_a < id_b, "
                          f"e.g. {unordered[0]}")
    low_est = [p for p in pairs if p[2] is None or p[2] < floor]
    if low_est:
        v.problems.append(f"{len(low_est)} estimates below {floor}, "
                          f"e.g. {low_est[0]}")
    low_j = [(a, b) for a, b in got if grams.jaccard(a, b) < floor]
    if low_j:
        v.problems.append(f"{len(low_j)} pairs with exact Jaccard below "
                          f"{floor}, e.g. {low_j[0]}")
    return v
