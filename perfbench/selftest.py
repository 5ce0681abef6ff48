"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

1. BENCHMARK.json lists exactly the metrics run.py prints.
2. The oracles accept a correct state and reject corrupted ones
   (a missing key, a resurrected delete, a stale version, wrong tokens,
   a lost append duplicate, a stale overwrite row, a dedup loser).
3. A table written by the program, then deliberately corrupted through
   the program's own merge, fails the oracle check.
4. Every workload runs end to end at tiny size, traced (which runs the
   untraced pass too), and reports every metric with correct=true.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_spec() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expect([m["name"] for m in spec["end_to_end"]] == list(run.E2E),
           "BENCHMARK.json end_to_end matches run.E2E")
    expect(all(spec_m["unit"] == run.E2E[spec_m["name"]] for spec_m in spec["end_to_end"]),
           "end_to_end units match")
    expect(spec["per_layer"] == run.per_layer_spec(), "BENCHMARK.json per_layer matches run.py")


def _cdc_rows(orc: oracle.CdcOracle, docs: np.ndarray) -> pa.Table:
    lsn = orc.lsn[docs]
    n_tok, offs, vals = gen.tokens_for(orc.seed, lsn, orc.max_tokens)
    return pa.table({
        "doc_id": pa.array(gen.doc_id_strings(docs)),
        "change_lsn": pa.array(lsn),
        "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(vals)),
        "n_tok": pa.array(n_tok),
    })


def check_cdc_oracle() -> None:
    orc = oracle.CdcOracle(seed=5, n_docs=300, max_tokens=8)
    for e in range(3):
        orc.apply(*gen.cdc_epoch_events(5, e, e * 400, 400, 300, 2.0, 0.2))
    live, all_docs = orc.live(), np.arange(300)
    good = _cdc_rows(orc, live)
    expect(orc.check_rows(good, all_docs) == [], "cdc oracle accepts the true state")
    expect(orc.check_rows(good.slice(1), all_docs) != [], "cdc oracle: missing key")
    dead = np.flatnonzero(orc.deleted & (orc.lsn >= 0))
    expect(len(dead) > 0 and orc.check_rows(
        _cdc_rows(orc, np.sort(np.append(live, dead[0]))), all_docs) != [],
        "cdc oracle: resurrected delete")
    stale = good.set_column(1, "change_lsn", pa.array(good.column("change_lsn").to_numpy() - 1))
    expect(orc.check_rows(stale, all_docs) != [], "cdc oracle: stale version")
    toks = good.column("tokens").to_pylist()
    toks[len(toks) // 2] = [t + 1 for t in toks[len(toks) // 2]]
    wrong = good.set_column(2, "tokens", pa.array(toks, type=pa.list_(pa.int32())))
    expect(orc.check_rows(wrong, all_docs) != [], "cdc oracle: one wrong token array")


def check_sync_oracle() -> None:
    orc = oracle.SyncOracle(seed=5, n_keys=50, max_tokens=4)
    facts = [gen.sync_lines(5, s, 200, 50, 40, 4, render=False)[1] for s in range(2)]
    for s, f in enumerate(facts):
        orc.apply(s, f)
    live = np.flatnonzero(orc.cursor >= 0)
    cur = orc.cursor[live]
    _, offs, vals = gen.tokens_for(5, cur, 4)
    toks = pa.ListArray.from_arrays(pa.array(offs), pa.array(vals))
    dedup = pa.table({"id": pa.array(live), "updated_at": pa.array(cur), "tokens": toks})
    expect(orc.check_dedup(dedup) == [], "dedup oracle accepts the true state")
    loser = dedup.set_column(1, "updated_at", pa.array(cur - 1))
    expect(orc.check_dedup(loser) != [], "dedup oracle: an older cursor won")

    ids = np.concatenate([f["append_ids"] for f in facts])
    amounts = np.concatenate([f["append_amounts"] for f in facts])
    raw = pa.array([f"r{i}" for i in range(len(ids))])
    app = pa.table({"id": ids, "amount": amounts, "_airbyte_raw_id": raw})
    expect(orc.check_append(app) == [], "append oracle accepts the true state")
    expect(len(np.unique(ids)) < len(ids), "append input repeats payloads")
    expect(orc.check_append(app.slice(1)) != [], "append oracle: a lost row")
    same_raw = app.set_column(2, "_airbyte_raw_id", pa.array(["r"] * len(ids)))
    expect(orc.check_append(same_raw) != [], "append oracle: shared raw ids")

    n = facts[1]["n_overwrite"]
    ow = pa.table({"id": np.arange(n), "name": [f"s1-n{i}" for i in range(n)]})
    expect(orc.check_overwrite(ow) == [], "overwrite oracle accepts the true state")
    stale = pa.table({"id": np.arange(n), "name": [f"s0-n{i}" for i in range(n)]})
    expect(orc.check_overwrite(stale) != [], "overwrite oracle: rows of an older sync")


def check_corrupted_table() -> None:
    """Write a table with the program, corrupt it with the program's
    own merge, and make sure the end-of-run check notices."""
    work = run.WORK / "selftest"
    run.prepare_env(2)
    sys.path.insert(0, str(ROOT))
    from airbyte_destination_spark.lake import LakeTable
    from airbyte_destination_spark.session import get_spark
    from airbyte_destination_spark.streaming.pipeline import IngestConfig, apply_change_batch

    spark = get_spark(master="local[2]", extra_conf=run.spark_conf())
    try:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        seed, n_docs, mt = 9, 400, 8
        orc = oracle.CdcOracle(seed, n_docs, mt)
        table = LakeTable(str(work / "t"))
        cfg = IngestConfig(merge_strategy="mor", n_buckets=4)
        for e in range(2):
            ev = gen.cdc_epoch_events(seed, e, e * 1000, 1000, n_docs, 1.0, 0.1)
            gen.write_parquet_dir(gen.cdc_table(seed, *ev, mt), str(work / f"e{e}"), 2)
            apply_change_batch(table, spark.read.parquet(str(work / f"e{e}")), f"e{e}", cfg)
            orc.apply(*ev)

        def final():
            got = table.read(spark).select("doc_id", "change_lsn", "tokens", "n_tok").toArrow()
            return orc.check_rows(got, np.arange(n_docs))

        expect(final() == [], "program-written table matches the oracle")
        live = orc.live()
        # an upsert the oracle never saw: right key, newer lsn, own tokens
        bad = gen.cdc_table(seed, live[:1], np.array([10**6]), np.array([False]), mt)
        gen.write_parquet_dir(bad, str(work / "bad"), 1)
        apply_change_batch(table, spark.read.parquet(str(work / "bad")), "bad", cfg)
        expect(final() != [], "oracle catches an unseen upsert in the table")
        gone = gen.cdc_table(seed, live[1:2], np.array([10**6 + 1]), np.array([True]), mt)
        gen.write_parquet_dir(gone, str(work / "gone"), 1)
        apply_change_batch(table, spark.read.parquet(str(work / "gone")), "gone", cfg)
        orc.apply(live[:1], np.array([10**6]), np.array([False]))
        expect(final() != [], "oracle catches a deleted live row")
    finally:
        run.stop_spark(spark)


def check_runs() -> None:
    # a --trace 1 run also runs the untraced pass, so one untraced run
    # is enough to check the --trace 0 metric names
    for wl, trace in (("bulk_replay", 0), ("bulk_replay", 1), ("trickle_mor", 1),
                      ("airbyte_sync", 1)):
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", "3",
             "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
        want = list(run.E2E) if trace == 0 else [m["name"] for m in run.per_layer_spec()]
        expect(
            p.returncode == 0 and res.get("correct") is True
            and list(res.get("metrics", {})) == want,
            f"{wl} --trace {trace}: exit {p.returncode}, correct={res.get('correct')}, "
            f"{len(res.get('metrics', {}))} metrics",
        )


if __name__ == "__main__":
    check_spec()
    check_cdc_oracle()
    check_sync_oracle()
    check_corrupted_table()
    check_runs()
    print("selftest passed")
