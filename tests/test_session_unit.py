"""Pure-python unit coverage for the session factory's sizing logic and
the contract file's single-source parity constants (no Spark session)."""

from __future__ import annotations

import os

from admarus_spark.session import (
    _local_shuffle_partitions,
    default_driver_mem,
    driver_java_options,
    session_sizing,
)


def test_local_masters_sized_to_core_count():
    assert _local_shuffle_partitions("local[8]") == 8
    assert _local_shuffle_partitions("local[1]") == 1
    # local[N,maxFailures] — Spark's task-retry local form must parse
    assert _local_shuffle_partitions("local[8,2]") == 8
    assert _local_shuffle_partitions("local[*]") == (os.cpu_count() or 32)


def test_non_local_masters_keep_spark_default():
    assert _local_shuffle_partitions(None) is None
    assert _local_shuffle_partitions("yarn") is None
    assert _local_shuffle_partitions("spark://host:7077") is None
    # local-cluster[...] is NOT a local master (real executors register)
    assert _local_shuffle_partitions("local-cluster[2,1,1024]") is None
    # unparseable bracket content must not crash session construction
    assert _local_shuffle_partitions("local[abc]") is None


def test_session_sized_from_host_unless_env_set(monkeypatch):
    gib = 1 << 30
    # half of MemTotal, capped at 24g, floored at 1g
    assert default_driver_mem(16 * gib) == "8192m"
    assert default_driver_mem(15 * gib + 700 * (1 << 20)) == "8030m"
    assert default_driver_mem(128 * gib) == "24576m"
    assert default_driver_mem(gib) == "1024m"
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session_sizing()
    assert cpus == str(len(os.sched_getaffinity(0)))
    assert mem == default_driver_mem()
    assert 1024 <= int(mem[:-1]) <= 24 * 1024
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session_sizing() == ("3", "6g")


def test_driver_jvm_flags_pin_heap_and_locale():
    flags = driver_java_options("6g").split()
    assert "-Xms6g" in flags and "-XX:+AlwaysPreTouch" in flags
    # Catalyst lower() must not follow a tr/az default locale
    assert "-Duser.language=en" in flags and "-Duser.country=US" in flags


def test_entry_contract_single_sources_parity_constants():
    import importlib.util

    import admarus_spark
    from admarus_spark.tokenizer import DUCKDB_TOKENS_EXPR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "entry_under_test", os.path.join(repo, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    # CLAUDE.md: parity-critical fragments live in ONE place each
    assert entry.K1 == admarus_spark.BM25_K1
    assert entry.B == admarus_spark.BM25_B
    assert entry._TOK_EXPR == DUCKDB_TOKENS_EXPR.format(col="text")
    assert DUCKDB_TOKENS_EXPR.format(col="text") in entry._TOK_CTES
