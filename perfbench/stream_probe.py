"""The ``streaming`` layer probe, run inside traced ``extract_batch`` runs.

``extract_stream`` with its default strategy and catalog, in continuous
micro-batches, is fed open-loop by the benchmark's main thread, which drops one
seeded 80-turn file every ``INTERVAL_S`` seconds, atomically. That rate is
below saturation (one file's micro-batch takes about 1 s on 4 cores), so
per-batch fixed costs dominate: planning, job launch and the
partition-overwrite write. A file's latency runs from its scheduled drop to
the commit of the micro-batch that holds it. The union of the batch outputs
must equal the oracle rows of every file dropped.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq

from p_id_text_extraction_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from perfbench import gen
from perfbench.workloads import GateError, lines_hash, med, oracle_lines, spark_lines

INTERVAL_S = 1.25
WARM_FILES = 2
TIMED_FILES = 8


class StreamProbe:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.query = None

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _drop(self, name: str, data: bytes) -> None:
        tmp = os.path.join(self._path("staging"), name)
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(self._path("src"), name))

    def _file_batches(self) -> dict[str, int]:
        """File name -> micro-batch id, from the file source's metadata log."""
        d = os.path.join(self._path("ckpt"), "sources", "0")
        out: dict[str, int] = {}
        for f in os.listdir(d) if os.path.isdir(d) else ():
            if f.startswith("."):
                continue
            try:
                with open(os.path.join(d, f)) as fh:
                    lines = fh.read().splitlines()[1:]
            except FileNotFoundError:     # superseded by a compaction
                continue
            for ln in lines:
                try:
                    e = json.loads(ln)
                except json.JSONDecodeError:
                    continue
                out[os.path.basename(urllib.parse.unquote(e["path"]))] = e["batchId"]
        return out

    def _commits(self) -> dict[int, float]:
        d = os.path.join(self._path("ckpt"), "commits")
        return {int(f): os.stat(os.path.join(d, f)).st_mtime
                for f in (os.listdir(d) if os.path.isdir(d) else ()) if f.isdigit()}

    def _wait_committed(self, names: list[str], timeout: float) -> tuple[dict, dict]:
        end = time.time() + timeout
        while True:
            fb, commits = self._file_batches(), self._commits()
            if all(n in fb and fb[n] in commits for n in names):
                return fb, commits
            if time.time() > end or not self.query.isActive:
                raise GateError(f"stream did not commit {len(names)} files in {timeout}s")
            time.sleep(0.01)

    def run(self) -> dict:
        from p_id_text_extraction_spark.streaming.extract_stream import extract_stream
        files, lines = [], []
        for i in range(WARM_FILES + TIMED_FILES):
            turns = gen.stream_file_turns(self.seed, i)
            buf = pa.BufferOutputStream()
            pq.write_table(gen.transcripts_table(turns), buf)
            files.append((f"f{i:05d}.parquet", buf.getvalue().to_pybytes()))
            lines.extend(oracle_lines(turns))
        for d in ("src", "staging"):
            os.makedirs(self._path(d), exist_ok=True)
        stream = self.spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(self._path("src"))
        self.query = extract_stream(stream, self._path("out"), self._path("ckpt"),
                                    trigger_available_now=False)
        try:
            for name, data in files[:WARM_FILES]:
                self._drop(name, data)
                self._wait_committed([name], timeout=120)
            timed = files[WARM_FILES:]
            due: dict[str, float] = {}
            lag: list[float] = []
            t0 = time.time() + 0.05

            for j, (name, data) in enumerate(timed):
                d = t0 + j * INTERVAL_S
                time.sleep(max(0.0, d - time.time()))
                self._drop(name, data)
                lag.append(time.time() - d)
                due[name] = d
            fb, commits = self._wait_committed(list(due), timeout=60)
        finally:
            self.query.stop()
        batches = {fb[n] for n in due}
        progress = [p.durationMs for p in self.query.recentProgress
                    if p.batchId in batches and p.numInputRows > 0]
        if lines_hash(spark_lines(self.spark.read.parquet(self._path("out")))) != lines_hash(lines):
            raise GateError("stream output differs from the oracle")
        lat = sorted(commits[fb[n]] - d for n, d in due.items())
        n = len(lat)
        return {"streaming.batches": len(batches),
                "streaming.trigger_ms": med([d.get("triggerExecution", 0) for d in progress]),
                "streaming.add_batch_ms": med([d.get("addBatch", 0) for d in progress]),
                "streaming.files_per_batch": n / len(batches),
                "streaming.latency_p50_ms": 1000 * med(lat),
                # highest percentile with >= 10 samples beyond it; the max below 11 samples
                "streaming.latency_tail_ms": 1000 * lat[n - 11 if n >= 11 else n - 1],
                "streaming.latency_samples": n,
                "streaming.generator_lag_ms": 1000 * max(lag)}
