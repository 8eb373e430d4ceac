"""Interleaved A/B of registry queries: a base revision against the
working tree, with row-level value equality.

    python tools/ab.py BASE_REV NAME... [--sf DIR] [--reps N]

``BASE_REV`` is checked out with ``git worktree add --detach`` under
/tmp (removed again on exit). Each arm runs in its own child process
that imports its own tree's ``__spark_entry__.queries()`` and builds one
``get_spark`` session, so the arms share the host and nothing else.
Every query is first collected once per arm and the rows compared with
``tools/crosscheck.normalize``; then ``N`` timed noop-sink runs per arm
alternate between the arms, flipping which arm goes first each rep, so
host drift hits both arms alike. Prints one JSON line; exits 1 when any
query's values differ or a query fails.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def child(tree: str, sf: str) -> None:
    """One arm: read ``collect NAME PATH`` / ``time NAME`` lines on
    stdin, answer each with one JSON line on the original stdout."""
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # Spark and py4j chatter goes to stderr, not the protocol
    sys.path[0] = tree
    import __spark_entry__
    from movie_data_etl_pipeline_spark.session import get_spark

    queries = __spark_entry__.queries()
    spark = get_spark("ab")
    while line := sys.stdin.readline():
        op, name, *out = line.split()
        try:
            t0 = time.perf_counter()
            df = queries[name](spark, sf)
            if op == "collect":
                with open(out[0], "wb") as fh:
                    pickle.dump(df.toPandas(), fh)
            else:
                df.write.format("noop").mode("overwrite").save()
            reply = {"s": round(time.perf_counter() - t0, 3)}
        except Exception as e:  # reported to the parent, not fatal
            reply = {"error": f"{type(e).__name__}: {e}"[:500]}
        spark.catalog.clearCache()
        proto.write(json.dumps(reply) + "\n")
    spark.stop()


class Arm:
    def __init__(self, tree: Path, sf: str):
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf)
        # Python workers must import this arm's package, not the other's
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(tree), env.get("PYTHONPATH")]))
        self.proc = subprocess.Popen(
            [sys.executable, __file__, "--child", str(tree), sf],
            cwd=tree, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def call(self, *words: str) -> dict:
        self.proc.stdin.write(" ".join(words) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"arm exited with {self.proc.wait()}")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def compare(arms: dict[str, Arm], names: list[str], reps: int, tmp: Path) -> dict:
    from crosscheck import normalize

    out: dict[str, dict] = {}
    for name in names:
        rec: dict = {}
        rows = {}
        for label, arm in arms.items():
            path = tmp / f"{label}-{name}.pkl"
            reply = arm.call("collect", name, str(path))
            if "error" in reply:
                rec[f"{label}_error"] = reply["error"]
                continue
            rows[label] = normalize(pickle.loads(path.read_bytes()))
        rec["equal"] = len(rows) == 2 and rows["base"] == rows["head"]
        rec["rows"] = {k: len(v) for k, v in rows.items()}
        out[name] = rec
        if len(rows) < 2:
            continue
        times: dict[str, list[float]] = {label: [] for label in arms}
        order = list(arms)
        for _ in range(reps):
            for label in order:
                reply = arms[label].call("time", name)
                if "error" in reply:
                    rec[f"{label}_error"] = reply["error"]
                    rec["equal"] = False
                else:
                    times[label].append(reply["s"])
            order.reverse()
        for label, ts in times.items():
            rec[f"{label}_s"] = ts
        if all(times.values()):
            rec["speedup"] = round(
                statistics.median(times["base"]) / statistics.median(times["head"]), 3
            )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="git revision of the base arm")
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    git = ["git", "-C", str(ROOT)]
    sha = subprocess.run(
        [*git, "rev-parse", "--verify", f"{args.base}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    tmp = Path(tempfile.mkdtemp(prefix="ab-", dir="/tmp"))
    tree = tmp / "base"
    arms: dict[str, Arm] = {}
    try:
        subprocess.run([*git, "worktree", "add", "--detach", "-q", str(tree), sha], check=True)
        arms = {"base": Arm(tree, args.sf), "head": Arm(ROOT, args.sf)}
        queries = compare(arms, args.names, args.reps, tmp)
    finally:
        for arm in arms.values():
            arm.close()
        subprocess.run([*git, "worktree", "remove", "--force", str(tree)], stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)
    equal = all(q["equal"] for q in queries.values())
    print(json.dumps({
        "base": args.base, "base_sha": sha, "sf": args.sf, "reps": args.reps,
        "equal": equal, "queries": queries,
    }))
    return 0 if equal else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(*sys.argv[2:4])
    else:
        raise SystemExit(main())
