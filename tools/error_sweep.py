"""Whole-registry execution sweep at an amplified scale point: run
EVERY registry query (no exclusions — including the near-dup families
the timing sweep excludes for measurement-semantics reasons) against
`/tmp/scalebench_xN` fixtures, recording per-query wall time or error.

This is not a benchmark — it is an ANSI-mode fault hunt: Spark raises
ARITHMETIC_OVERFLOW / broadcast-OOM loudly instead of wrapping, so one
pass certifies "every query EXECUTES at Nx data", the class of latent
scale bug the round-6 30x sweep caught in ts_esd_outliers.

    python tools/error_sweep.py [factor] [out_json] [query ...]
    python tools/error_sweep.py [factor] [out_json] --shard K/N

Writes one JSON line {"factor": N, "results": {name: sec | "ERROR: ..."}}.
Trailing query names restrict the sweep; `--shard K/N` (K in 1..N)
takes every N-th registry entry starting at K-1, so N concurrent
sessions (or N sequential runs) cover the registry exactly once —
merge the shard JSONs by unioning their `results`. Unknown names are
a hard error (a typo must not silently widen the sweep).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from movie_data_etl_pipeline_spark.plans import fixture_queries as FQ
from movie_data_etl_pipeline_spark.session import (
    _dir_bytes,
    data_scaled_driver_memory,
    data_scaled_shuffle_partitions,
    get_spark,
)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_json = sys.argv[2] if len(sys.argv) > 2 else ""
    names = list(FQ.QUERIES)
    rest = sys.argv[3:]
    if rest and rest[0] == "--shard":
        k, n = (int(x) for x in rest[1].split("/"))
        if not 1 <= k <= n:
            sys.exit(f"error_sweep: bad shard {rest[1]} (want K/N, 1<=K<=N)")
        names = names[k - 1 :: n]
    elif rest:
        unknown = [a for a in rest if a not in FQ.QUERIES]
        if unknown:
            sys.exit(f"error_sweep: unknown query name(s) {unknown}")
        names = rest
    sf_dir = f"/tmp/scalebench_x{factor}"
    # Self-size the session to the AMPLIFIED volume before it is built
    # (the conf is fixed at session build; getOrCreate ignores later
    # confs) — when the fixtures already exist the derivation measures
    # them, otherwise it anticipates base_bytes x factor. The explicit
    # SPARK_GRAFT_SHUFFLE_PARTITIONS knob still wins when set.
    import os as _os

    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in _os.environ:
        _cpus = int(_os.environ.get("SPARK_GRAFT_CPUS", _os.cpu_count() or 8))
        _base = _os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        if _os.path.exists(_os.path.join(sf_dir, "_done")):
            _bytes = _dir_bytes(sf_dir)
        else:
            _bytes = _dir_bytes(_base) * factor
        _parts = data_scaled_shuffle_partitions(_bytes, _cpus)
        _os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(_parts)
        _os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", data_scaled_driver_memory(_bytes))
    # fail fast on missing fixtures — every query would otherwise
    # "fail" with PATH_NOT_FOUND and the sweep would burn 20 minutes
    # producing a garbage record (run tools/scalebench.py first, or
    # let this build them)
    import os

    if not os.path.exists(os.path.join(sf_dir, "_done")):
        # ADVICE-r8 #3: concurrent --shard K/N sessions racing into
        # amplify() would corrupt the shared fixtures. Exactly one
        # process wins the O_EXCL lock and amplifies; any loser exits
        # with instructions instead of writing into a half-built dir
        # (pre-amplify once via tools/scalebench.py when sharding).
        lock = f"{sf_dir}.amplify.lock"
        os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
        except FileExistsError:
            sys.exit(
                f"error_sweep: {sf_dir} incomplete and another process holds "
                f"{lock} — amplify once via tools/scalebench.py before "
                "launching concurrent shards (or remove the stale lock)"
            )
        try:  # EVERYTHING between acquire and here must release the lock
            print(
                f"error_sweep: {sf_dir} missing/incomplete — amplifying first",
                file=sys.stderr,
                flush=True,
            )
            from tools.scalebench import amplify

            # honor the same base-dir override scalebench uses, so the two
            # tools' records always describe the same amplified data
            base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
            amplify(get_spark("error-sweep"), base_dir, sf_dir, factor)
        finally:
            os.unlink(lock)
    spark = get_spark("error-sweep")
    results: dict[str, object] = {}
    for name in names:
        fn = FQ.QUERIES[name]
        print(f"error_sweep: {name}", file=sys.stderr, flush=True)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            results[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001 — the whole point
            results[name] = f"ERROR: {str(e).splitlines()[0][:300]}"
        spark.catalog.clearCache()
    errs = {k: v for k, v in results.items() if isinstance(v, str)}
    # drift calibration (VERDICT-r6 ask #7) — the sweep's per-query
    # seconds are diagnostic, but they get READ as perf evidence, so
    # carry the same calibration keys as every other record.
    import bench

    calib = bench.measure_drift(spark)
    line = json.dumps(
        {"factor": factor, "n_errors": len(errs), **calib, "results": results}
    )
    print(line)
    if out_json:
        Path(out_json).write_text(line + "\n")


if __name__ == "__main__":
    main()
