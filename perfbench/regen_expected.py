"""Regenerate perfbench/expected.json, the digests every op is checked against.

    python3 perfbench/regen_expected.py

For each input scale under perfbench/data and each workload (each input
variant, for workloads that have several), one run goes under the normal
session and one under the adversarial session (local[3], 7 shuffle
partitions, AQE off) with a different seed, so the op order differs too.
An op's digest is kept only if both runs agree. For ops that are registered
queries with a DuckDB oracle, the oracle's digest must also agree, and it
is the oracle's that is stored.

Any disagreement is printed and nothing is written: the command refuses to
record a digest that depends on partitioning, op order or the engine.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from check import EXPECTED_PATH, digest  # noqa: E402
from workloads import WORKLOADS, op_name  # noqa: E402

SCALES = ("sf0.01", "sf0.001")


def _child(workload: str, seed: int, sf_dir: str, adversarial: bool, out: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "0", "--sf-dir", sf_dir, "--emit-digests", out]
    if adversarial:
        cmd.append("--adversarial")
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} failed rc={res.returncode}:\n{res.stderr[-3000:]}")
    with open(out) as fh:
        return json.load(fh)


def _oracle_digests(sf_dir: str, names: set[str]) -> dict[str, dict]:
    import duckdb

    from etl_poc_spark import registry
    from etl_poc_spark.io import TABLES, table_path

    registry.load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return {n: digest(con.sql(registry.ORACLES[n]).df()) for n in sorted(names) if n in registry.ORACLES}


def main() -> int:
    runs = []  # (scale, workload, seed, adversarial)
    for scale in SCALES:
        for w, spec in WORKLOADS.items():
            for v in range(spec.variants):
                runs.append((scale, w, v, False))
                runs.append((scale, w, v + spec.variants, True))

    with tempfile.TemporaryDirectory(prefix="perfbench-regen-") as tmp:
        def go(run):
            scale, w, seed, adv = run
            out = os.path.join(tmp, f"{scale}-{w}-{seed}-{int(adv)}.json")
            print(f"run {scale} {w} seed={seed} adversarial={adv}", flush=True)
            return run, _child(w, seed, os.path.join(HERE, "data", scale), adv, out)

        with ThreadPoolExecutor(max_workers=2) as pool:
            results = list(pool.map(go, runs))

    problems: list[str] = []
    expected: dict[str, dict] = {}
    for scale in SCALES:
        normal: dict[str, dict] = {}
        advers: dict[str, dict] = {}
        for (s, _, _, adv), digests in results:
            if s == scale:
                (advers if adv else normal).update(digests)
        for key in sorted(set(normal) | set(advers)):
            if normal.get(key) != advers.get(key):
                problems.append(f"{scale} {key}: normal {normal.get(key)} != adversarial {advers.get(key)}")
        oracle = _oracle_digests(os.path.join(HERE, "data", scale), {op_name(k) for k in normal})
        for key, d in normal.items():
            name = op_name(key)
            if name in oracle and oracle[name] != d:
                problems.append(f"{scale} {key}: spark {d} != duckdb oracle {oracle[name]}")
        expected[scale] = {k: oracle.get(op_name(k), d) for k, d in sorted(normal.items())}

    if problems:
        print("REFUSED: digests that are not stable were not recorded", file=sys.stderr)
        for p in problems:
            print("  " + p, file=sys.stderr)
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {sum(len(v) for v in expected.values())} digests -> {os.path.relpath(EXPECTED_PATH, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
