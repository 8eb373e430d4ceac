"""Self-sizing session conf (r11, VERDICT-r10 ask #4): the shuffle
partition count and local-mode heap derive from the data volume the
session will serve, so an amplified-scale run is robust WITHOUT env
overrides while the bench-scale conf stays bit-identical to every
earlier round (= cores, 8g). Pure-python — no SparkSession needed, and
the host RAM is injected, so the results do not depend on the host."""

from __future__ import annotations

from movie_data_etl_pipeline_spark.session import (
    _dir_bytes,
    data_scaled_driver_memory,
    data_scaled_shuffle_partitions,
    resolve_session_conf,
)

GiB = 1024**3


def _mkdata(tmp_path, mb: int) -> int:
    d = tmp_path / "fixtures"
    d.mkdir()
    # sparse file: getsize() reports the apparent size without writing it
    f = d / "table.parquet"
    with open(f, "wb") as fh:
        fh.truncate(mb * 1024 * 1024)
    return _dir_bytes(str(d))


def test_bench_scale_is_bit_identical(tmp_path):
    """At sf0.1 volume (~17 MB) the derivation lands EXACTLY on the
    r1-r10 conf — cores partitions, 8g heap on a 16 GB host — so driver
    bench numbers stay comparable across the self-sizing change."""
    n = _mkdata(tmp_path, 17)
    assert data_scaled_shuffle_partitions(n, 32) == 32
    assert data_scaled_shuffle_partitions(n, 8) == 8
    assert data_scaled_driver_memory(n, ram_bytes=16 * GiB) == "8g"
    # MemTotal of a 16 GB host is ~15.7 GiB (kernel-reserved memory)
    assert data_scaled_driver_memory(n, ram_bytes=16_456_384 * 1024) == "8g"


def test_amplified_scale_grows(tmp_path):
    """At the 100x volume (~1.7 GB compressed) the derivation reaches
    the 96-128 partition band measured OOM-free in r10 and a heap
    comfortably above the 8g that died (r11 sweep: 18-20g runs the
    graph family clean with no env overrides) — on a host with the RAM
    for it (the 126 GB round-11 box)."""
    n = _mkdata(tmp_path, 17) * 100
    parts = data_scaled_shuffle_partitions(n, 32)
    assert 96 <= parts <= 256
    mem_gb = int(data_scaled_driver_memory(n, ram_bytes=126 * GiB).rstrip("g"))
    assert 12 <= mem_gb <= 64


def test_half_ram_caps_the_heap(tmp_path):
    """The heap never exceeds half the host's RAM, also below the 8g
    floor: an 8 GB host gets 4g, at bench scale and at 100x alike."""
    n = _mkdata(tmp_path, 17)
    assert data_scaled_driver_memory(n, ram_bytes=8 * GiB) == "4g"
    assert data_scaled_driver_memory(n * 100, ram_bytes=8 * GiB) == "4g"
    assert data_scaled_driver_memory(n * 100, ram_bytes=16 * GiB) == "8g"


def test_missing_dir_falls_back(tmp_path):
    n = _dir_bytes(str(tmp_path / "nope"))
    assert n == 0
    assert data_scaled_shuffle_partitions(n, 32) == 32
    assert data_scaled_driver_memory(n, ram_bytes=16 * GiB) == "8g"


def test_env_knobs_still_win(tmp_path):
    """The explicit r10 knobs keep priority over the derivation — a
    production deployment that pins them must not be second-guessed —
    and an explicit argument beats the knob."""
    n = _mkdata(tmp_path, 17) * 100
    env = {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "777", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert resolve_session_conf(env, n, 32) == (777, "3g")
    assert resolve_session_conf(env, n, 32, shuffle_partitions=5) == (5, "3g")
    assert resolve_session_conf({}, n, 32) == (
        data_scaled_shuffle_partitions(n, 32),
        data_scaled_driver_memory(n),
    )


def test_clamps(tmp_path):
    """The partition derivation is clamped: never below cores, never
    above 4096 (past that, shuffle block-count quadratics dominate —
    guide §2.2 — and a real cluster should size explicitly)."""
    n = _mkdata(tmp_path, 17)
    assert data_scaled_shuffle_partitions(n * 10**6, 32) == 4096
    assert data_scaled_shuffle_partitions(n, 48) == 48
