"""The three workloads. Each is a closed loop with one client: the next
epoch, lookup or sync starts only after the previous one returned.

bulk_replay  large Zipf-skewed epochs through streaming.apply_change_batch
             into a COW table
trickle_mor  small uniform epochs into a pre-seeded MOR table with the
             default inline auto-compaction; lookups after every epoch;
             the window is whole compaction cycles
airbyte_sync NDJSON syncs of three streams (append_dedup, append,
             overwrite) through destination.Destination.write
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback
from pathlib import Path

import numpy as np
import pyarrow as pa

import gen
import oracle

# The reported tail percentile. A window holds 2-15 commits and 4-15
# lookups, so no percentile above the median has ten samples beyond it;
# p90 and the maximum of so few samples moved too much between runs
# (see perfbench/README.md).
TAIL_Q = 0.75
WINDOW_CAP = 6  # a window ends after at most this many times --seconds


class Failure(Exception):
    """An operation failed or gave a wrong answer; the run stops."""


def _reset_hwm(pid) -> None:
    """Restart the process's peak-RSS count (VmHWM) from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine's CPUs so far (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Run:
    """State the workloads share: session, tracer, failure accounting."""

    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.gen_s = 0.0
        self.setup_parts: dict[str, float] = {}  # set-up step -> seconds
        self.spark = None
        self.tracer = None
        self.jvm_pid = None

    def gen(self, fn, *a):
        """Time input generation, which set-up excludes."""
        t = time.perf_counter()
        out = fn(*a)
        self.gen_s += time.perf_counter() - t
        return out

    def op(self, label: str, fn):
        """One attempted operation. An exception or a non-empty list of
        mismatches returned by `fn` counts as a failure and stops the run."""
        self.attempted += 1
        try:
            msgs = fn()
        except Exception:  # noqa: BLE001 - any error is a failed operation
            msgs = [traceback.format_exc(limit=3)]
        if msgs:
            self.failed += 1
            self.problems.extend(f"{label}: {m}" for m in msgs[:3])
            raise Failure(label)

    def reset_peak_rss(self) -> None:
        _reset_hwm("self")
        _reset_hwm(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb("self") + _vm_hwm_mb(self.jvm_pid)


def _rows_table(rows, cols: list[str]) -> pa.Table:
    return pa.table({c: [r[c] for r in rows] for c in cols})


class Workload:
    """Shared closed loop: commit one unit, check it, probe, repeat."""

    probes = 1
    phase = 0  # compaction-cycle phase at which a window starts (trickle_mor)

    def __init__(self, run: Run, work: Path, size: str):
        self.run = run
        self.inputs = work / "inputs" / f"{self.name}-{size}-s{run.seed}-{self._input_key(size)}"
        self.tables = work / "tables" / f"{self.name}-s{run.seed}"
        shutil.rmtree(self.tables, ignore_errors=True)
        self.tables.mkdir(parents=True)
        self.unit = 0  # next unit (epoch or sync) of the input sequence

    def _input_key(self, size: str) -> str:
        """Digest of everything the cached inputs depend on besides the
        workload and seed: the generator's source and the sizes."""
        params = (self.sizes[size], self.max_tokens, self.files_per_unit, self.warmup_units)
        src = Path(gen.__file__).read_bytes() + repr(params).encode()
        return hashlib.sha256(src).hexdigest()[:12]

    def _cached(self, name: str, write) -> tuple[str, int]:
        """Input directory `name`, written by `write(path)` unless an
        earlier run with the same workload, seed, sizes and generator
        left it."""
        path = self.inputs / name
        done = path / "_DONE"
        if done.exists():
            return str(path), int(done.read_text())
        shutil.rmtree(path, ignore_errors=True)
        nbytes = self.run.gen(write, str(path))
        done.write_text(str(nbytes))
        return str(path), nbytes

    # subclasses: generate, setup, commit, probe, final_check,
    # space_amp, done, instrument

    def instrument(self, tracer) -> None:
        from airbyte_destination_spark.lake import LakeTable

        for attr, name in (
            ("merge", "lake.merge"), ("compact", "lake.compact"),
            ("append", "lake.append"), ("overwrite_where", "lake.overwrite_where"),
        ):
            tracer.wrap_method(LakeTable, attr, name)

    @staticmethod
    def new_window(traced: bool = False) -> dict:
        """Samples and counts of one window (set-up uses a throwaway one)."""
        return {
            "traced": traced, "epoch_s": [], "lookup_ms": [], "events": 0,
            "rows_upserted": 0, "input_bytes": 0, "files_frac": [], "max_files": [],
            "compactions": 0,
        }

    def window(self, seconds: float, traced: bool) -> dict:
        w = self.new_window(traced)
        w["phase0"] = self.phase
        t0, gen0, ticks0 = time.perf_counter(), self.run.gen_s, cpu_ticks()
        while True:
            w["compactions"] += self.commit(w, traced)
            if self.probe_now():
                for p in range(self.probes):
                    self.probe(w, p, traced)
            # inputs generated on demand do not use up the window
            elapsed = time.perf_counter() - t0 - (self.run.gen_s - gen0)
            if self.done(w, elapsed, seconds) or elapsed >= WINDOW_CAP * seconds:
                break
        w["window_s"] = time.perf_counter() - t0
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        w["steal"] = steal / max(total, 1)  # CPU time the hypervisor took
        ep, lk = w["epoch_s"], w["lookup_ms"]
        w["metrics"] = {
            "apply_eps": w["events"] / sum(ep),
            "epoch_s_p50": statistics.median(ep),
            "epoch_s_tail": quantile(ep, TAIL_Q),
            "lookup_ms_p50": statistics.median(lk),
            "lookup_ms_tail": quantile(lk, TAIL_Q),
            "space_amp": self.space_amp(),
            "peak_rss_mb": self.run.peak_rss_mb(),
        }
        return w

    def probe_now(self) -> bool:
        """Whether the commit that just returned is followed by probes."""
        return True

    def done(self, w: dict, elapsed: float, seconds: float) -> bool:
        return elapsed >= seconds

    def timed_lookup(self, w: dict, table, keys: list, cols: list[str]) -> pa.Table:
        """One probe: read_keys plus collect, timed as one lookup."""
        run = self.run
        with run.tracer.span("lake.read_keys"):
            t = time.perf_counter()
            rows = table.read_keys(run.spark, keys).collect()
            w["lookup_ms"].append((time.perf_counter() - t) * 1e3)
        return _rows_table(rows, cols)


# ------------------------------------------------------------------ CDC


class CdcWorkload(Workload):
    strategy = "cow"
    n_buckets = 32  # IngestConfig's default
    compact_files = 16  # IngestConfig's default inline auto-compaction (MOR)
    warmup_units = 0  # epochs applied in setup()
    max_tokens = 32
    files_per_unit = 8
    sizes: dict[str, dict] = {}

    def __init__(self, run, work, size):
        super().__init__(run, work, size)
        p = self.sizes[size]
        self.n_docs, self.epoch_events = p["n_docs"], p["epoch_events"]
        self.skew, self.delete_frac = p["skew"], p["delete_frac"]
        self.pregen = p["pregen"]
        self.oracle = oracle.CdcOracle(run.seed, self.n_docs, self.max_tokens)
        self.lsn0 = 0  # lsn of the first epoch event
        self.last_docs = np.zeros(1, dtype=np.int64)

    def _events(self, e: int):
        return gen.cdc_epoch_events(
            self.run.seed, e, self.lsn0 + e * self.epoch_events, self.epoch_events,
            self.n_docs, self.skew, self.delete_frac,
        )

    def _epoch_input(self, e: int) -> tuple[str, int]:
        def write(path):
            t = gen.cdc_table(self.run.seed, *self._events(e), self.max_tokens)
            return gen.write_parquet_dir(t, path, self.files_per_unit)

        return self._cached(f"epoch-{e:05d}", write)

    def generate(self) -> None:
        for e in range(self.pregen):
            self._epoch_input(e)

    def _cfg(self):
        from airbyte_destination_spark.streaming.pipeline import IngestConfig

        return IngestConfig(
            merge_strategy=self.strategy, n_buckets=self.n_buckets,
            auto_compact_files=self.compact_files,
        )

    def _apply(self, table, path: str, epoch_id: str):
        from airbyte_destination_spark.streaming.pipeline import apply_change_batch

        run = self.run
        with run.tracer.span("streaming.apply"):
            t = time.perf_counter()
            stats = apply_change_batch(
                table, run.spark.read.parquet(path), epoch_id, self._cfg()
            )
            return stats, time.perf_counter() - t

    def setup(self) -> None:
        from airbyte_destination_spark.lake import LakeTable

        self.table = LakeTable(str(self.tables / "t"))

    def commit(self, w: dict, traced: bool) -> bool:
        run, e = self.run, self.unit
        path, nbytes = self._epoch_input(e)
        doc, lsn, is_del = self._events(e)
        box = {}

        def apply():
            stats, dt = self._apply(self.table, path, f"epoch-{e}")
            box.update(stats=stats, dt=dt)
            return [] if not stats.skipped else ["epoch skipped as already applied"]

        run.op(f"apply epoch {e}", apply)
        self.oracle.apply(doc, lsn, is_del)
        self.unit += 1
        self.last_docs = doc
        w["epoch_s"].append(box["dt"])
        w["events"] += len(lsn)
        w["rows_upserted"] += box["stats"].rows_upserted
        w["input_bytes"] += nbytes
        if traced:
            w["max_files"].append(self.table.describe()["max_files_per_bucket"])
        # a version past the merge's own means the apply also compacted
        return self.table.current_version() > box["stats"].version

    def probe_keys(self, p: int) -> list[str]:
        rng = np.random.default_rng([self.run.seed, 77, self.unit, p])
        hot = rng.choice(self.last_docs, size=2)
        cold = rng.integers(0, self.n_docs, size=2)
        return list(gen.doc_id_strings(np.concatenate([hot, cold])))

    def probe(self, w: dict, p: int, traced: bool) -> None:
        keys = self.probe_keys(p)
        cols = ["doc_id", "change_lsn", "tokens", "n_tok"]
        docs = np.array([int(k[4:]) for k in keys])

        def lookup():
            got = self.timed_lookup(w, self.table, keys, cols)
            return self.oracle.check_rows(got, docs)

        self.run.op(f"lookup after epoch {self.unit - 1}", lookup)
        if traced:
            live = self.table.describe()["n_data_files"]
            opened = len(self.table.files_for_keys(self.run.spark, keys))
            w["files_frac"].append(opened / live)

    def space_amp(self) -> float:
        ref = self.oracle.state_bytes(str(self.tables / "oracle_state.parquet"))
        return self.table.describe()["data_bytes"] / ref

    def final_check(self) -> None:
        def check():
            got = (
                self.table.read(self.run.spark)
                .select("doc_id", "change_lsn", "tokens", "n_tok")
                .toArrow()
            )
            return self.oracle.check_rows(got, np.arange(self.n_docs))

        self.run.op("final table state", check)


class BulkReplay(CdcWorkload):
    name = "bulk_replay"
    strategy = "cow"
    probes = 2
    warmup_units = 2
    sizes = {
        "full": dict(n_docs=200_000, epoch_events=40_000, skew=2.0,
                     delete_frac=0.05, pregen=6),
        "tiny": dict(n_docs=2_000, epoch_events=1_000, skew=2.0,
                     delete_frac=0.05, pregen=4),
    }

    def setup(self) -> None:
        """The replay starts on an empty table; its first epochs are the
        warm-up (cold JIT and the table's creation)."""
        super().setup()
        w = self.new_window()
        for _ in range(self.warmup_units):
            self.commit(w, traced=False)
            self.probe(w, 0, traced=False)


class TrickleMor(CdcWorkload):
    name = "trickle_mor"
    strategy = "mor"
    # Smaller than IngestConfig's defaults (32 buckets, compaction at 16
    # files, a cycle of 15 epochs): a window of whole compaction cycles
    # after a warm-up must fit the regression check's run budget
    # (measured in perfbench/README.md)
    n_buckets = 8
    compact_files = 8
    probes = 1
    warmup_units = 7  # one whole compaction cycle, ending at phase 0
    sizes = {
        "full": dict(n_docs=60_000, epoch_events=5_000, skew=1.0,
                     delete_frac=0.05, pregen=10),
        "tiny": dict(n_docs=3_000, epoch_events=200, skew=1.0,
                     delete_frac=0.05, pregen=20),
    }

    def __init__(self, run, work, size):
        super().__init__(run, work, size)
        self.lsn0 = self.n_docs  # the seed snapshot holds lsns [0, n_docs)
        self.phase = 0  # epochs applied since the seed or the last compaction

    def _seed_input(self) -> tuple[str, int]:
        def write(path):
            doc = np.arange(self.n_docs, dtype=np.int64)
            t = gen.cdc_table(
                self.run.seed, doc, doc.copy(), np.zeros(self.n_docs, bool), self.max_tokens
            )
            return gen.write_parquet_dir(t, path, self.files_per_unit)

        return self._cached("seed", write)

    def generate(self) -> None:
        super().generate()
        self._seed_input()

    def setup(self) -> None:
        """Seed the table with every key once, then warm up with one
        compaction cycle, probed as in a window."""
        super().setup()
        path, _ = self._seed_input()

        def seed():
            stats, _ = self._apply(self.table, path, "seed")
            return ["seed skipped"] if stats.skipped else []

        t = time.perf_counter()
        self.run.op("seed", seed)
        doc = np.arange(self.n_docs, dtype=np.int64)
        self.oracle.apply(doc, doc.copy(), np.zeros(self.n_docs, bool))
        t1 = time.perf_counter()
        w = self.new_window()
        for _ in range(self.warmup_units):
            self.commit(w, traced=False)
            if self.probe_now():
                self.probe(w, 0, traced=False)
        self.run.setup_parts.update(seed=t1 - t, warm_up=time.perf_counter() - t1)

    def commit(self, w: dict, traced: bool) -> bool:
        compacted = super().commit(w, traced)
        self.phase = 0 if compacted else self.phase + 1
        return compacted

    def probe_now(self) -> bool:
        """One probe after every other epoch (even cycle phases, the
        epoch that compacted included): lookups take as long as epochs,
        and a probe after every epoch does not fit the run budget."""
        return self.phase % 2 == 0

    def done(self, w: dict, elapsed: float, seconds: float) -> bool:
        """Whole compaction cycles: the window closes once it has seen a
        compaction and is back at the cycle phase it started from, so
        it holds every delta depth of the cycle once; and not before
        --seconds have passed."""
        return elapsed >= seconds and w["compactions"] > 0 and self.phase == w["phase0"]


# --------------------------------------------------------------- Airbyte


class AirbyteSync(Workload):
    name = "airbyte_sync"
    probes = 2
    max_tokens = 16
    warmup_units = 2
    min_syncs = 3
    files_per_unit = 8
    sizes = {
        "full": dict(records=15_000, keys=20_000,
                     state_every=1_500, pregen=3),
        "tiny": dict(records=600, keys=400,
                     state_every=100, pregen=4),
    }

    def __init__(self, run, work, size):
        super().__init__(run, work, size)
        p = self.sizes[size]
        self.records = p["records"]
        self.keys, self.state_every, self.pregen = p["keys"], p["state_every"], p["pregen"]
        self.oracle = oracle.SyncOracle(run.seed, self.keys, self.max_tokens)
        self.facts: dict[int, dict] = {}

    def done(self, w: dict, elapsed: float, seconds: float) -> bool:
        """At least `min_syncs` syncs, so that the median is of several."""
        return elapsed >= seconds and len(w["epoch_s"]) >= self.min_syncs

    def _sync_input(self, s: int) -> tuple[str, int]:
        def write(path):
            lines, _ = gen.sync_lines(
                self.run.seed, s, self.records, self.keys, self.state_every, self.max_tokens
            )
            return gen.write_lines(lines, path, self.files_per_unit)

        return self._cached(f"sync-{s:05d}", write)

    def _facts(self, s: int) -> dict:
        if s not in self.facts:
            self.facts[s] = self.run.gen(
                lambda: gen.sync_lines(
                    self.run.seed, s, self.records, self.keys, self.state_every,
                    self.max_tokens, render=False,
                )[1]
            )
        return self.facts[s]

    def generate(self) -> None:
        for s in range(self.warmup_units + self.pregen):
            self._sync_input(s)
            self._facts(s)

    def setup(self) -> None:
        from airbyte_destination_spark import protocol as P
        from airbyte_destination_spark.destination import Destination
        from airbyte_destination_spark.lake import LakeTable

        self.catalog = P.ConfiguredCatalog.from_dict(gen.CATALOG)
        wh = str(self.tables / "wh")
        self.dest = Destination(self.run.spark, P.Config(warehouse=wh))
        self.tbl = {
            s.name: LakeTable(os.path.join(wh, s.table_name)) for s in self.catalog.streams
        }
        t = time.perf_counter()
        w = self.new_window()
        for _ in range(self.warmup_units):
            self.commit(w, traced=False)
            self.probe(w, 0, traced=False)
        self.run.setup_parts["warm_up"] = time.perf_counter() - t

    def commit(self, w: dict, traced: bool) -> bool:
        run, s = self.run, self.unit
        path, nbytes = self._sync_input(s)
        facts = self._facts(s)
        box = {}

        def write():
            with run.tracer.span("destination.write"):
                t = time.perf_counter()
                res = self.dest.write(
                    self.catalog, path, sync_start_ms=gen.sync_emitted_s(s) * 1000
                )
                box.update(dt=time.perf_counter() - t, res=res)
            if res.n_states != facts["n_states"]:
                return [f"{res.n_states} STATE messages echoed, {facts['n_states']} sent"]
            return []

        run.op(f"sync {s}", write)
        self.oracle.apply(s, facts)
        self.unit += 1
        w["epoch_s"].append(box["dt"])
        w["events"] += facts["n_records"]
        w["rows_upserted"] += sum(box["res"].tables.values())
        w["input_bytes"] += nbytes
        if traced:
            w["max_files"].append(
                max(t.describe()["max_files_per_bucket"] for t in self.tbl.values())
            )
        return False

    def probe(self, w: dict, p: int, traced: bool) -> None:
        rng = np.random.default_rng([self.run.seed, 78, self.unit, p])
        last = self._facts(self.unit - 1)["dedup_ids"]
        keys = np.concatenate([rng.choice(last, size=2), rng.integers(0, self.keys, size=2)])
        table = self.tbl["docs_dedup"]

        def lookup():
            got = self.timed_lookup(w, table, [int(k) for k in keys], ["id", "updated_at", "tokens"])
            return self.oracle.check_dedup(got, np.unique(keys))

        self.run.op(f"lookup after sync {self.unit - 1}", lookup)
        if traced:
            live = table.describe()["n_data_files"]
            opened = len(table.files_for_keys(self.run.spark, [int(k) for k in keys]))
            w["files_frac"].append(opened / live)

    def space_amp(self) -> float:
        ref = self.oracle.state_bytes(str(self.tables / "oracle_state"))
        return sum(t.describe()["data_bytes"] for t in self.tbl.values()) / ref

    def final_check(self) -> None:
        spark = self.run.spark
        checks = {
            "docs_dedup": self.oracle.check_dedup,
            "events_append": self.oracle.check_append,
            "dims_overwrite": self.oracle.check_overwrite,
        }
        for name, check in checks.items():
            self.run.op(
                f"final {name}",
                lambda n=name, c=check: c(self.tbl[n].read(spark).toArrow()),
            )


WORKLOADS = {w.name: w for w in (BulkReplay, TrickleMor, AirbyteSync)}
