"""The three perfbench workloads, each driving the engine's public API.

A workload is built once per run (reading the input and compiling what
it needs), then ``iterate()`` runs one closed-loop iteration and
``check()`` compares its output with the generator's truth. ``trace()``
runs the traced profile that gives the per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rsyslog_spark import flagship
from rsyslog_spark.aggregates import salted_counts
from rsyslog_spark.datapipe.dedup import (
    token_minhash_pairs,
    token_minhash_signature_arrow,
)
from rsyslog_spark.lineage import run_with_lineage
from rsyslog_spark.lookup import LookupTable
from rsyslog_spark.parsing import decode_tokens, parse
from rsyslog_spark.rules import Router

import checks
from checks import Verdict
from gen import FIELDS
from tracing import MB, EventLog, Tracer, metric_sum, noop_times, plan_nodes

AGG_KEYS = ["facility", "severity", "source", "site"]


class Workload:
    name = ""

    def __init__(self, spark, wdir: str, truth: dict, scratch: str,
                 tracer: Tracer | None = None):
        self.wdir = wdir
        self.truth = truth
        self.scratch = scratch
        self.rows = truth["rows"]
        self.lt = spark.read.parquet(os.path.join(wdir, "input"))

    def iterate(self, tracer: Tracer | None = None):
        raise NotImplementedError

    def check(self, out) -> Verdict:
        raise NotImplementedError

    def final_check(self) -> Verdict:
        """Checks made once per run, outside the timed iterations."""
        return Verdict()

    @property
    def group(self) -> str:
        """Spark job group of the traced iteration."""
        return f"{self.name}:iter"


class ParseRouteAgg(Workload):
    """Router.route_counts(parse(lt)) with the flagship script, then
    salted_counts over LookupTable.enrich(parse(lt), source -> site)."""

    name = "parse_route_agg"

    def __init__(self, spark, wdir, truth, scratch, tracer=None):
        super().__init__(spark, wdir, truth, scratch)
        self.table = LookupTable("site", "string",
                                 [tuple(r) for r in truth["site_table"]],
                                 nomatch=truth["site_nomatch"])
        t = time.perf_counter()
        with (tracer or _NoTracer()).span("Router(...)"):
            self.router = Router(flagship.ROUTE_SCRIPT, flagship.make_env())
        self.compile_s = time.perf_counter() - t

    def iterate(self, tracer: Tracer | None = None):
        tr = tracer or _NoTracer()
        with tr.span("parse"):
            p = parse(self.lt)
        with tr.span("Router.route_counts"):
            rc = self.router.route_counts(p)
        with tr.span("collect"):
            sinks = {r["sink"]: int(r["n"]) for r in rc.collect()}
        with tr.span("parse"):
            p = parse(self.lt)
        with tr.span("LookupTable.enrich"):
            enriched = self.table.enrich(p, "source", "site")
        with tr.span("salted_counts"):
            agg = salted_counts(enriched, AGG_KEYS)
        with tr.span("collect"):
            rows = [tuple(r) for r in agg.collect()]
        self.last_agg_df = agg
        return sinks, rows

    def check(self, out) -> Verdict:
        return checks.check_route_agg(self.truth, *out)

    def final_check(self) -> Verdict:
        got = parse(self.lt).select("doc_id", *FIELDS).toArrow()
        expected = pq.read_table(os.path.join(self.wdir, "expected.parquet"))
        v, bad = checks.check_rows(
            expected, got, frozenset(self.truth["nonascii_ids"]))
        if v.failed:
            print(f"{self.name}: {v.failed} of {v.attempted} rows decode or "
                  f"parse wrongly, e.g. {bad[:5]}", flush=True)
        return v

    def trace(self, tracer: Tracer) -> dict:
        lt = self.lt
        enriched = self.table.enrich(parse(lt), "source", "site")
        # The aggregate reads only its keys, so its prefix is the enrich
        # prefix pruned to them.
        t = noop_times({
            "scan": lt,
            "decode": lt.withColumn("rawmsg", decode_tokens("tokens")),
            "parse": parse(lt),
            "route": self.router.apply(parse(lt)),
            "enrich": enriched,
            "enrich_keys": enriched.select(*AGG_KEYS),
            "salted": salted_counts(enriched, AGG_KEYS),
        })
        nodes = plan_nodes(self.last_agg_df)
        return {
            "parsing.decode_s": t["decode"] - t["scan"],
            "parsing.header_s": t["parse"] - t["decode"],
            "rules.compile_s": self.compile_s,
            "rules.route_s": t["route"] - t["parse"],
            "lookup.enrich_s": t["enrich"] - t["parse"],
            "aggregates.salted_s": t["salted"] - t["enrich_keys"],
            "aggregates.shuffle_mb": metric_sum(
                nodes, "Exchange", "shuffleBytesWritten") / MB,
            "noop_prefix_s": t,
        }


class RouteWriteLineage(Workload):
    """lineage.run_with_lineage(router, parse(lt), out): the CLI's
    spark-submit path, four sink writes plus lineage tables."""

    name = "route_write_lineage"

    def __init__(self, spark, wdir, truth, scratch, tracer=None):
        super().__init__(spark, wdir, truth, scratch)
        self.router = Router(flagship.ROUTE_SCRIPT, flagship.make_env())
        self.k = 0

    def iterate(self, tracer: Tracer | None = None):
        tr = tracer or _NoTracer()
        self.k += 1
        out = os.path.join(self.scratch, f"{self.name}-{self.k}")
        with tr.span("parse"):
            p = parse(self.lt)
        with tr.span("run_with_lineage") as sp:
            snap = run_with_lineage(self.router, p, out)
        self.last_call, self.last_out = sp, out
        return out, snap

    def check(self, out) -> Verdict:
        path, snap = out
        try:
            return checks.check_lineage(
                self.truth, snap, checks.read_lineage_output(path))
        finally:
            self.last_written = _tree_bytes(path)
            shutil.rmtree(path, ignore_errors=True)

    def trace(self, tracer: Tracer) -> dict:
        return {"lineage.call_s": tracer.duration(self.last_call),
                "lineage.written_mb": self.last_written / MB}

    def trace_events(self, log: EventLog) -> dict:
        g = self.group
        execs = log.group_executions(g).values()

        def writes(sub: str) -> list[dict]:
            path = os.path.join(self.last_out, sub)
            return [e for e in execs if f"{path}," in e["plan"]
                    or f"{path}]" in e["plan"]]

        sink_writes = [e for s in self.router.sinks for e in writes(s)]
        part = writes("_lineage_partitions")
        if len(sink_writes) != len(self.router.sinks) or len(part) != 1:
            raise RuntimeError(
                f"found {len(sink_writes)} sink writes and {len(part)} "
                "partition passes in the event log")
        return {
            "lineage.sink_write_s": sum(e["end"] - e["start"]
                                        for e in sink_writes) / 1000.0,
            "lineage.partition_pass_s": (part[0]["end"] - part[0]["start"])
            / 1000.0,
            "lineage.jobs": len(log.group_jobs(g)),
            "lineage.cached_mb": log.cached_bytes(g) / MB,
        }


class NeardupTokens(Workload):
    """datapipe.dedup.token_minhash_pairs with its defaults over token
    documents with planted near-copy clusters."""

    name = "neardup_tokens"

    def __init__(self, spark, wdir, truth, scratch, tracer=None):
        super().__init__(spark, wdir, truth, scratch)
        self.grams = checks.DocGrams(os.path.join(wdir, "input"),
                                     truth["gram_k"])

    def iterate(self, tracer: Tracer | None = None):
        tr = tracer or _NoTracer()
        with tr.span("token_minhash_pairs"):
            df = token_minhash_pairs(self.lt)
        with tr.span("collect"):
            pairs = [(r.id_a, r.id_b, r.est_jaccard) for r in df.collect()]
        self.last_df, self.last_pairs = df, pairs
        return pairs

    def check(self, out) -> Verdict:
        return checks.check_pairs(self.truth, out, self.grams)

    def trace(self, tracer: Tracer) -> dict:
        with tracer.span("token_minhash_signature_arrow"):
            sig = self.lt.select(
                "doc_id",
                token_minhash_signature_arrow(F.col("tokens")).alias("sig"))
        t = noop_times({"scan": self.lt, "signature": sig})
        nodes = plan_nodes(self.last_df)
        band = [n for n in nodes if n["name"] == "Generate"
                and n.get("generated") == ["be"]]
        cand = [n for n in nodes if "Join" in n["name"]
                and "band#" in n["desc"] and "bucket#" in n["desc"]
                and "(id#" in n["desc"]]
        if not band or len(cand) != 1:
            raise RuntimeError(f"plan has {len(band)} band explodes and "
                               f"{len(cand)} candidate joins")
        n_cand = cand[0]["metrics"]["numOutputRows"]["value"]
        self.cand_acc = cand[0]["metrics"]["numOutputRows"]["id"]
        return {
            "dedup.signature_s": t["signature"] - t["scan"],
            "dedup.python_s": metric_sum(
                nodes, "ArrowEvalPython", "pythonTotalTime") / 1000.0,
            "dedup.band_rows": sum(n["metrics"]["numOutputRows"]["value"]
                                   for n in band),
            "dedup.candidate_pairs": n_cand,
            "dedup.pairs_per_candidate": len(self.last_pairs) / n_cand
            if n_cand else 0.0,
            "dedup.shuffle_mb": metric_sum(
                nodes, "Exchange", "shuffleBytesWritten") / MB,
            "band_explodes": len(band),
            "signature_udf_nodes": sum(n["name"] == "ArrowEvalPython"
                                       for n in nodes),
            "noop_prefix_s": t,
        }

    def trace_events(self, log: EventLog) -> dict:
        stages = log.stages_with_accumulator(self.cand_acc)
        tasks = [t for t in log.tasks if t["Stage ID"] in stages]
        return {"dedup.join_s":
                log.task_metric(tasks, "Executor Run Time") / 1000.0}


class _NoTracer:
    @staticmethod
    def span(name: str):
        return nullcontext({})


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _sub, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (ParseRouteAgg, RouteWriteLineage,
                                 NeardupTokens)}
