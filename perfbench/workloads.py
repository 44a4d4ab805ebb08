"""The three workloads: set-up, timed window, output gate and layer probes.

Each workload drives the engine through its public entry points with their
default arguments (as ``jobs/extract_job.main`` does) and never passes a
``strategy=``.  Each is a closed loop of one client: one operation is
repeated until the window ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

from p_id_text_extraction_spark.oracle import spec
from p_id_text_extraction_spark.oracle.pipeline import (
    OUTPUT_FIELDS, candidates_for_turn, extract_turn_tuples,
)
from p_id_text_extraction_spark.plans import pipeline as plans_pipeline
from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
from p_id_text_extraction_spark.sources import iceberg, iceberg_format
from p_id_text_extraction_spark.sources.transcripts import TRANSCRIPT_SCHEMA, read_transcripts
from perfbench import gen
from perfbench.trace import tree_cpu_s


class GateError(RuntimeError):
    """An operation's own output check failed."""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True, file=sys.stderr)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _line(row) -> str:
    return json.dumps(list(row))


def lines_hash(lines) -> str:
    h = hashlib.md5()
    for ln in sorted(lines):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_lines(turns: list[dict]) -> list[str]:
    """Pure-oracle span rows (OUTPUT_FIELDS order), one JSON line each."""
    return [_line(t) for r in turns
            for t in extract_turn_tuples(r["conv_id"], r["turn_idx"], r["text"])]


def spark_lines(df) -> list[str]:
    return [_line(r) for r in df.select(*OUTPUT_FIELDS).collect()]


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def med3(fn) -> float:
    return med([timed(fn) for _ in range(3)])


class Workload:
    """Closed-loop workload: ``op`` runs one operation and returns
    ``{"rows", "primary_s", "latency_s", ...}``."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        os.makedirs(work, exist_ok=True)

    def generate(self) -> None:
        """Write the seeded inputs (idempotent; timed several times)."""
        raise NotImplementedError

    def reference(self) -> None:
        """Compute the reference the output gate compares against."""
        raise NotImplementedError

    def op(self) -> dict:
        raise NotImplementedError

    def gate(self) -> bool:
        """Run the workload's plan once on the same inputs and compare its
        output with the reference.  It is the run's warm-up, so every
        operation of the window finds the plans, the JVM and the Python
        workers warm."""
        raise NotImplementedError

    def probes(self) -> dict:
        return {}

    def op_layers(self, ops: list[dict]) -> dict:
        return {}

    def measure(self, seconds: float, trace: bool) -> dict:
        """Run operations until ``seconds`` have passed (at least one, and
        at least one traced plus one untraced when tracing).  Traced and
        untraced operations alternate, so their walls share drift; the first
        is always untraced, so the pairing does not depend on the seed."""
        ops: list[dict] = []
        attempted = failed = 0
        t0_ms = time.time() * 1000
        end = time.perf_counter() + seconds
        while attempted < (2 if trace else 1) or time.perf_counter() < end:
            k = attempted
            traced = trace and k % 2 == 1
            c0 = tree_cpu_s()
            self.tracer.op, self.tracer.active = k, traced
            try:
                r = self.op()
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                traceback.print_exc()
                r = None
            finally:
                self.tracer.active = False
            cpu = tree_cpu_s() - c0
            attempted += 1
            if r is None:
                failed += 1
                continue
            r.update(k=k, traced=traced, cpu_s=cpu)
            ops.append(r)
        return {
            "attempted": attempted, "failed": failed, "ops": ops,
            "t0_ms": t0_ms, "t1_ms": time.time() * 1000, "n_ops": len(ops),
            # every operation of a run handles the same input rows
            "rows_per_s": ops[0]["rows"] / med([r["primary_s"] for r in ops]) if ops else 0.0,
            "latency_ms": 1000 * med([r["latency_s"] for r in ops]),
            "cpu_ms_per_krow": med([1e6 * r["cpu_s"] / r["rows"] for r in ops]),
            "traced_ops": {r["k"] for r in ops if r["traced"]},
            "overhead_frac": _overhead(ops),
        }


def _overhead(ops: list[dict]) -> float:
    on = [r["latency_s"] for r in ops if r["traced"]]
    off = [r["latency_s"] for r in ops if not r["traced"]]
    return med(on) / med(off) - 1 if on and off else 0.0


# --------------------------------------------------------------------------
# extraction layer probes (oracle, functions, plans, sources)
# --------------------------------------------------------------------------

def oracle_probe(turns: list[dict], seed: int, n: int = 2000) -> dict:
    """Single-core, in-process: parse, detect and the whole turn, timed per
    turn in one loop over a fixed seeded sample."""
    sample = random.Random(seed).sample(turns, min(n, len(turns)))
    parse = detect = whole = 0
    clock = time.perf_counter_ns
    for r in sample:
        text = r["text"]
        t0 = clock()
        norm = spec.parse_canvas(text)
        t1 = clock()
        spec.detect_all_spans(norm)
        t2 = clock()
        extract_turn_tuples(r["conv_id"], r["turn_idx"], text)
        t3 = clock()
        parse += t1 - t0
        detect += t2 - t1
        whole += t3 - t2
    cands = spans = 0
    for r in sample:
        cands += len(candidates_for_turn(r["conv_id"], r["turn_idx"], r["text"], r["role"], r["tool"])[1])
        spans += len(extract_turn_tuples(r["conv_id"], r["turn_idx"], r["text"]))
    k = len(sample)
    return {"oracle.parse_ns_per_turn": parse / k, "oracle.detect_ns_per_turn": detect / k,
            "oracle.turn_ns_per_turn": whole / k,
            "oracle.tail_ns_per_turn": (whole - parse - detect) / k,
            "oracle.turns_per_s_1core": 1e9 * k / whole,
            "oracle.candidates_per_turn": cands / k,
            "oracle.span_yield": spans / cands if cands else 0.0}


def kernel_probe(files: list[str]) -> dict:
    """``make_extract_rows_kernel`` on pandas batches of 10k rows read with
    pyarrow -- no Spark."""
    from p_id_text_extraction_spark.functions.udfs import make_extract_rows_kernel
    kernel = make_extract_rows_kernel()
    batches = [b.to_pandas() for f in files
               for b in pq.ParquetFile(f).iter_batches(10_000, columns=["conv_id", "turn_idx", "text"])]
    n = sum(len(b) for b in batches)
    t = time.perf_counter_ns()
    for _ in kernel(iter(batches)):
        pass
    return {"functions.kernel_ns_per_turn": (time.perf_counter_ns() - t) / n}


def plan_probes(spark, path: str) -> dict:
    """Scan, identity Arrow round trip, fused plan and relational plan,
    each into the noop sink; median of three."""
    cols = ["conv_id", "turn_idx", "text"]

    def scan():
        return read_transcripts(spark, path).select(*cols)

    def identity(batches):
        yield from batches

    schema = scan().schema
    return {
        "sources.scan_s": med3(lambda: noop(scan())),
        "plans.arrow_roundtrip_s": med3(lambda: noop(scan().mapInPandas(identity, schema))),
        "plans.fused_s": med3(lambda: noop(plans_pipeline.extract_pipeline_fused(read_transcripts(spark, path)))),
        "plans.relational_s": med3(lambda: noop(plans_pipeline.extract_pipeline(read_transcripts(spark, path)))),
    }


def parquet_files(root: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _s, fs in os.walk(root)
                  for f in fs if f.endswith(".parquet") and "_staging" not in d)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class ExtractBatch(Workload):
    """``extract_pipeline_fused(read_transcripts(parquet))`` into noop."""

    name = "extract_batch"

    def generate(self) -> None:
        self.input = os.path.join(self.work, "transcripts")
        self.turns = gen.batch_turns(self.seed)
        shutil.rmtree(self.input, ignore_errors=True)
        gen.write_parquet_files(gen.transcripts_table(self.turns), self.input, gen.BATCH_FILES)

    def reference(self) -> None:
        self.ref = lines_hash(oracle_lines(self.turns))

    def _plan(self):
        return plans_pipeline.extract_pipeline_fused(read_transcripts(self.spark, self.input))

    def op(self) -> dict:
        with self.tracer.span("plans.extract_pipeline_fused"):
            dt = timed(lambda: noop(self._plan()))
        return {"rows": len(self.turns), "primary_s": dt, "latency_s": dt}

    def gate(self) -> bool:
        return lines_hash(spark_lines(self._plan())) == self.ref

    def probes(self) -> dict:
        from perfbench.stream_probe import StreamProbe
        return {**oracle_probe(self.turns, self.seed), **kernel_probe(parquet_files(self.input)),
                **plan_probes(self.spark, self.input),
                **StreamProbe(self.spark, os.path.join(self.work, "stream"), self.seed).run()}


N_BUCKETS = 256          # jobs/extract_job.py --buckets default


class ResumeIceberg(Workload):
    """``run_with_resume(..., catalog="iceberg")`` over an Iceberg-format
    input: a killed run (half the buckets), the resume, a no-op resume."""

    name = "resume_iceberg"

    def generate(self) -> None:
        self.input = os.path.join(self.work, "transcripts_ice")
        self.turns = gen.skew_turns(self.seed)
        shutil.rmtree(self.input, ignore_errors=True)
        iceberg_format.create_table(self.input, TRANSCRIPT_SCHEMA, ("bucket(conv_id, 16)",))
        df = self.spark.createDataFrame(gen.transcripts_table(self.turns).to_pandas(), TRANSCRIPT_SCHEMA)
        iceberg_format.write_dataframe(df, self.input)
        self.cycle = 0

    def reference(self) -> None:
        self.ref = lines_hash(oracle_lines(self.turns))

    def _resume(self, out: str, man: str, **kw) -> tuple[dict, float]:
        t = time.perf_counter()
        r = run_with_resume(self.spark, read_transcripts(self.spark, self.input), out, man,
                            n_buckets=N_BUCKETS, catalog="iceberg", **kw)
        return r, time.perf_counter() - t

    def op(self) -> dict:
        base = os.path.join(self.work, f"cycle-{self.cycle}")
        self.cycle += 1
        out, man = os.path.join(base, "spans"), os.path.join(base, "manifest")
        with self.tracer.span("checkpoint.killed"):
            r1, killed = self._resume(out, man, bucket_filter=list(range(N_BUCKETS // 2)))
        with self.tracer.span("checkpoint.resume"):
            r2, resumed = self._resume(out, man)
        snaps = (iceberg_format.snapshot_ids(out), iceberg_format.snapshot_ids(man))
        with self.tracer.span("checkpoint.noop"):
            r3, noop_s = self._resume(out, man)
        done = (r1["buckets_completed"], r2["buckets_completed"], r3["buckets_completed"])
        if done != (N_BUCKETS // 2, N_BUCKETS - N_BUCKETS // 2, 0):
            raise GateError(f"buckets completed per phase {done}")
        if snaps != (iceberg_format.snapshot_ids(out), iceberg_format.snapshot_ids(man)):
            raise GateError("the no-op resume committed a snapshot")
        shutil.rmtree(base, ignore_errors=True)
        return {"rows": len(self.turns), "primary_s": killed + resumed,
                "latency_s": killed + resumed + noop_s, "buckets": sum(done)}

    def gate(self) -> bool:
        """The killed and resume phases on a scratch output; the spans
        read back must equal the oracle, with one manifest row per bucket.
        Every operation of the window checks its phases' bucket counts and
        its no-op resume itself."""
        base = os.path.join(self.work, "gate")
        out, man = os.path.join(base, "spans"), os.path.join(base, "manifest")
        self._resume(out, man, bucket_filter=list(range(N_BUCKETS // 2)))
        self._resume(out, man)
        lines = spark_lines(iceberg.read_table(self.spark, out))
        self.spans_written = len(lines)
        buckets = [r.bucket_id for r in iceberg.read_table(self.spark, man).select("bucket_id").collect()]
        shutil.rmtree(base, ignore_errors=True)
        return (lines_hash(lines) == self.ref and len(buckets) == N_BUCKETS
                and len(set(buckets)) == N_BUCKETS)

    def op_layers(self, ops: list[dict]) -> dict:
        return {"checkpoint.buckets_completed": med([r["buckets"] for r in ops]),
                "checkpoint.spans_written": getattr(self, "spans_written", 0)}

    def probes(self) -> dict:
        return {**oracle_probe(self.turns, self.seed),
                **kernel_probe(parquet_files(os.path.join(self.input, "data"))),
                **plan_probes(self.spark, self.input)}


DEDUP_QUERIES = ("dedup_minhash_lsh", "dedup_ngram_jaccard")


class DedupDocs(Workload):
    """The two heaviest dedup queries over a generated sf-shaped directory."""

    name = "dedup_docs"

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf, exist_ok=True)
        table = gen.docs_table(self.seed)
        pq.write_table(table, os.path.join(self.sf, "documents.parquet"))
        self.n_docs = table.num_rows

    def reference(self) -> None:
        import duckdb

        from tools.check_oracles import canon
        from p_id_text_extraction_spark.plans.queries import ORACLES
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf}/documents.parquet'")
            self.ref = {q: canon(con.execute(ORACLES[q]).df()) for q in DEDUP_QUERIES}
        finally:
            con.close()

    def _query(self, name: str):
        from p_id_text_extraction_spark.plans.queries import QUERIES
        return QUERIES[name](self.spark, self.sf)

    def op(self) -> dict:
        from p_id_text_extraction_spark.util import unpersist_tracked
        walls = {}
        for q in DEDUP_QUERIES:
            with self.tracer.span(f"queries.{q}"):
                walls[q] = timed(lambda: noop(self._query(q)))
            unpersist_tracked()
        total = sum(walls.values())
        return {"rows": self.n_docs, "primary_s": total, "latency_s": total,
                "minhash_lsh_s": walls["dedup_minhash_lsh"],
                "ngram_jaccard_s": walls["dedup_ngram_jaccard"]}

    def gate(self) -> bool:
        from tools.check_oracles import canon
        from p_id_text_extraction_spark.util import unpersist_tracked
        ok, self.pairs = True, {}
        for q in DEDUP_QUERIES:
            got = canon(self._query(q).toPandas())
            unpersist_tracked()
            self.pairs[q] = len(got)
            ok = ok and got == self.ref[q]
        return ok

    def op_layers(self, ops: list[dict]) -> dict:
        pairs = getattr(self, "pairs", {})
        return {"dedup.minhash_lsh_s": med([r["minhash_lsh_s"] for r in ops]),
                "dedup.ngram_jaccard_s": med([r["ngram_jaccard_s"] for r in ops]),
                "dedup.minhash_pairs_out": pairs.get("dedup_minhash_lsh", 0),
                "dedup.ngram_pairs_out": pairs.get("dedup_ngram_jaccard", 0)}

    def probes(self) -> dict:
        from p_id_text_extraction_spark.operators import dedup
        docs = lambda: self.spark.read.parquet(os.path.join(self.sf, "documents.parquet"))  # noqa: E731
        return {"sources.scan_s": med3(lambda: noop(docs().select("doc_id", "text"))),
                "dedup.sketch_s": med3(lambda: noop(dedup.minhash_sketches_kernel(docs()))),
                "dedup.grams_s": med3(lambda: noop(dedup.hashed_grams_kernel(docs())))}


WORKLOADS = {w.name: w for w in (ExtractBatch, ResumeIceberg, DedupDocs)}
