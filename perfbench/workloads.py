"""The benchmark's four closed-loop workloads.

A workload prepares its seeded inputs and oracle answers (untimed), then
offers ``touch`` (first input touch) and ``warm`` (warm-up job) for the
set-up measurement and ``run_unit`` for the timed loop. One unit is one
``Pipeline.run``, one backlog drain, or one ``curate_pack``; ``run_unit``
times only the unit and then checks its outputs against the oracle.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from skewer_spark.icelite import IceLiteTable
from skewer_spark.lineage import LineageLog
from skewer_spark.ops import curation
from skewer_spark.pipeline import Pipeline
from skewer_spark.streaming import read_transcript_stream, start_exactly_once_pipeline_stream

from perfbench import inputs

SALT_PARTITIONS = 8


@dataclass
class Unit:
    rows: int = 0
    wall: float = 0.0
    epochs: list[tuple[float, float]] = field(default_factory=list)  # (trigger, addBatch) s
    ok: bool = False
    why: str = ""
    stored_bytes: int = 0
    # output directory; outputs stay until the run directory is removed,
    # because deleting a warehouse right before a unit slowed it by ~20%
    out: str = ""
    fanout: float = 0.0  # routed rows per input row


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _parquet_files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


class Workload:
    name = ""
    why = ""
    unit_s = 5.0  # nominal wall of one unit on a 4-core host, after a cold set-up

    def units_for(self, seconds: float) -> int:
        """Units per run: the same count on every run of a workload, because
        units keep getting faster as the JVM warms, so a time-bounded loop
        would do 2 units on one run and 3 on the next."""
        return max(1, round(seconds / self.unit_s))

    def __init__(self, root: str, work: str, cache: str, seed: int, size: str):
        self.root, self.work, self.cache, self.seed, self.size = root, work, cache, seed, size
        self.perturb = False
        self.timed = contextlib.nullcontext  # the benchmark's span around the timed part
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}{self._n:04d}")

    def run_unit(self, spark, index: int) -> Unit:
        try:
            unit = self._unit(spark, index)
        except Exception:  # a failed unit is counted, and the loop goes on
            return Unit(ok=False, why=traceback.format_exc(limit=4))
        try:
            unit.why = self.check(unit)
        except Exception:
            unit.why = traceback.format_exc(limit=4)
        unit.ok = not unit.why
        return unit

    def digest_check(self, unit: Unit) -> str:
        return ""

    def attempts(self, unit: Unit) -> int:
        """Closed-loop operations a unit stands for (one run, or its epochs)."""
        return 1

    def epoch_samples(self, units: list[Unit]) -> list[float]:
        """Latencies behind ``epoch_p50_s`` and ``epoch_tail_s``. A batch
        workload has no micro-batches: its closed-loop operation, one unit,
        is its epoch."""
        return [u.wall for u in units if u.ok]

    def survivor_ratio(self) -> float:
        return 0.0

    def input_rows(self) -> int:
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def _unit(self, spark, index: int) -> Unit:
        raise NotImplementedError

    def check(self, unit: Unit) -> str:
        raise NotImplementedError


# ------------------------------------------------------------------ spine
def _table_files(wh: str, sink: str) -> list[str]:
    return IceLiteTable(wh, sink).data_files()


def _snapshot_rows(wh: str, sink: str) -> int:
    return sum(s.rows for s in IceLiteTable(wh, sink).snapshots())


def _rollups(wh: str) -> dict:
    """Rollup tables summed over every committed snapshot."""
    out = {}
    for key in inputs.AGG_KEYS:
        totals: dict[tuple, int] = {}
        for path in _table_files(wh, f"agg_{key}"):
            t = pq.read_table(path).to_pydict()
            for s, v, n in zip(t["sink"], t[key], t["n"]):
                totals[(s, v)] = totals.get((s, v), 0) + int(n)
        out[key] = sorted([s, v, n] for (s, v), n in totals.items())
    return out


def _compare(what: str, got, want) -> str:
    return "" if got == want else f"{what}: got {got!r}, expected {want!r}"


def _digest_check(expect: dict, warehouse: str) -> str:
    """Per-sink (count, row-hash sum) of the committed tables against the oracle."""
    for sink, want in expect["digest"].items():
        why = _compare(f"{sink} digest", inputs.sink_digest(_table_files(warehouse, sink)), want)
        if why:
            return why
    return ""


class _Spine(Workload):
    hook = False

    def __init__(self, *a):
        super().__init__(*a)
        self.dir, self.expect = inputs.transcripts(
            self.cache, self.seed, self.size, "hook" if self.hook else "batch"
        )
        self.inputs = _parquet_files(os.path.join(self.dir, "transcripts"))

    def input_rows(self) -> int:
        return self.expect["rows_in"]

    def input_bytes(self) -> int:
        return _bytes(self.inputs)

    def pipeline(self, spark, warehouse: str):
        if self.hook:
            return Pipeline(
                spark, warehouse, rules=inputs.HOOK_RULES, salt_partitions=SALT_PARTITIONS
            )
        return Pipeline(spark, warehouse)

    def touch(self, spark) -> None:
        self.df = spark.read.parquet(os.path.join(self.dir, "transcripts"))
        self.df.count()

    def warm(self, spark) -> None:
        # a full-size run: after a tiny one the first timed unit is ~50% slower
        self.pipeline(spark, self.fresh_dir("warm")).run(self.df, run_id="warm")

    def _unit(self, spark, index: int) -> Unit:
        wh = self.fresh_dir("wh")
        with self.timed():
            t0 = time.time()
            res = self.pipeline(spark, wh).run(self.df, run_id=f"unit{index}")
            wall = time.time() - t0
        self._last = res
        sinks = list(self.expect["sinks"])
        stored = sum(_bytes(_table_files(wh, s)) for s in sinks)
        routed = sum(res.sink_rows.values())
        return Unit(
            rows=res.rows_in, wall=wall, out=wh, stored_bytes=stored,
            fanout=routed / res.rows_in if res.rows_in else 0.0,
        )

    def check(self, unit: Unit) -> str:
        e, res = self.expect, self._last
        want_sinks = dict(e["sinks"])
        if self.perturb:  # self-test: a wrong expected count must fail
            want_sinks["dead_letter"] += 1
        return (
            _compare("rows_in", res.rows_in, e["rows_in"])
            or _compare(
                "status", res.status_counts, {"dropped": e["dropped"], "rejected": e["rejected"]}
            )
            or _compare("sink rows", res.sink_rows, want_sinks)
            or _compare("rollups", _rollups(unit.out), e["rollups"])
        )

    def digest_check(self, unit: Unit) -> str:
        return _digest_check(self.expect, unit.out)


class SpineBatch(_Spine):
    name = "spine_batch"
    why = "production headline: DEFAULT_RULES, no salt, no hook; parse UDF and sort+write dominate"


class SpineHotkey(_Spine):
    name = "spine_hotkey"
    why = "salted shuffle, grouped rate-limit hook and verdict join-back, which re-runs parse"
    hook = True


# ----------------------------------------------------------------- stream
class StreamEpochs(Workload):
    name = "stream_epochs"
    why = "availableNow drain of small-file epochs into one warehouse; per-run costs dominate"
    unit_s = 13.0

    def __init__(self, *a):
        super().__init__(*a)
        self.dir, self.expect = inputs.backlog(self.cache, self.seed, self.size)
        self.backlog = os.path.join(self.dir, "backlog")
        self.files = _parquet_files(self.backlog)

    def input_rows(self) -> int:
        return self.expect["rows_in"]

    def input_bytes(self) -> int:
        return _bytes(self.files)

    def attempts(self, unit: Unit) -> int:
        return len(self.files)

    def epoch_samples(self, units: list[Unit]) -> list[float]:
        """Micro-batch ``triggerExecution`` times of every drain."""
        return [t for u in units for t, _ in u.epochs]

    def touch(self, spark) -> None:
        spark.read.parquet(self.backlog).count()

    def _drain(self, spark, source: str, max_files: int):
        wh, ck = self.fresh_dir("wh"), self.fresh_dir("ck")
        q = start_exactly_once_pipeline_stream(
            read_transcript_stream(spark, source, max_files=max_files), spark, wh, ck
        )
        if not q.awaitTermination(150):
            q.stop()
            raise TimeoutError("backlog drain did not finish in 150 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q, wh

    def warm(self, spark) -> None:
        warm = os.path.join(self.dir, "warm")
        self._drain(spark, warm, len(_parquet_files(warm)))

    def _unit(self, spark, index: int) -> Unit:
        with self.timed():
            t0 = time.time()
            q, wh = self._drain(spark, self.backlog, 1)
            wall = time.time() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        epochs = [
            (p["durationMs"]["triggerExecution"] / 1e3, p["durationMs"].get("addBatch", 0) / 1e3)
            for p in progress
        ]
        rows = sum(p["numInputRows"] for p in progress)
        sinks = list(self.expect["sinks"])
        routed = sum(_snapshot_rows(wh, s) for s in sinks)
        return Unit(
            rows=rows, wall=wall, epochs=epochs, out=wh,
            stored_bytes=sum(_bytes(_table_files(wh, s)) for s in sinks),
            fanout=routed / rows if rows else 0.0,
        )

    def check(self, unit: Unit) -> str:
        e = self.expect
        want_sinks = dict(e["sinks"])
        if self.perturb:
            want_sinks["dead_letter"] += 1
        recs = LineageLog(unit.out).records()
        rows_in = int(recs.loc[recs.stage == "route_write", "rows_in"].sum())
        return (
            _compare("epochs", len(unit.epochs), len(self.files))
            or _compare("rows_in", rows_in, e["rows_in"])
            or _compare(
                "sink rows", {s: _snapshot_rows(unit.out, s) for s in want_sinks}, want_sinks
            )
            or _compare("rollups", _rollups(unit.out), e["rollups"])
        )

    def digest_check(self, unit: Unit) -> str:
        return _digest_check(self.expect, unit.out)


# --------------------------------------------------------------- curation
class CurationFunnel(Workload):
    name = "curation_funnel"
    why = "curate_pack over replicated, seed-tagged documents: the ops/ family, no spine code"
    unit_s = 4.5

    def __init__(self, *a):
        super().__init__(*a)
        self.dir, self.expect = inputs.documents(self.root, self.cache, self.seed, self.size)
        self.corpus = os.path.join(self.dir, "corpus")
        self.files = _parquet_files(self.corpus)

    def input_rows(self) -> int:
        return self.expect["docs"]

    def survivor_ratio(self) -> float:
        return self.expect["digest"][0] / self.expect["docs"]

    def input_bytes(self) -> int:
        return _bytes(self.files)

    def touch(self, spark) -> None:
        spark.read.parquet(os.path.join(self.corpus, "documents.parquet")).count()

    def _pack(self, spark, sf_dir: str, out: str) -> None:
        # through the module attribute, so the traced run's wrapper applies
        curation.curate_pack(spark, sf_dir).write.parquet(out)

    def warm(self, spark) -> None:
        self._pack(spark, self.corpus, self.fresh_dir("out"))

    def _unit(self, spark, index: int) -> Unit:
        out = self.fresh_dir("out")
        with self.timed():
            t0 = time.time()
            self._pack(spark, self.corpus, out)
            wall = time.time() - t0
        files = _parquet_files(out)
        return Unit(rows=self.expect["docs"], wall=wall, out=out, stored_bytes=_bytes(files))

    def check(self, unit: Unit) -> str:
        want = list(self.expect["digest"])
        if self.perturb:
            want[0] += 1
        return _compare("curate_pack digest", inputs.pack_digest(_parquet_files(unit.out)), want)


WORKLOADS = {w.name: w for w in (SpineBatch, SpineHotkey, StreamEpochs, CurationFunnel)}
