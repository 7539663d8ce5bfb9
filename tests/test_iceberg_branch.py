"""Execute TableIO's Iceberg branch without the Iceberg runtime jar.

The sandbox has no Iceberg on the classpath, so `iceberg_available()` is
always False here and the production `use_iceberg=True` path (catalog
idents + DataFrameWriterV2 append/createOrReplace/overwritePartitions —
the Iceberg v2 REPLACE PARTITIONS resume primitive the design names) would
otherwise never run in-sandbox. These tests force the branch with
`use_iceberg=True` against recording fakes, asserting the exact catalog
calls and writer-v2 call chains the branch issues. The parquet fallback's
behavior (same TableIO surface) is covered for real in test_resume.py /
test_bucketing.py.
"""

from __future__ import annotations

import threading
import time

import pytest

from prove_spark.sources.tables import TableIO


class FakeWriterV2:
    """Records the DataFrameWriterV2 call chain."""

    def __init__(self, log: list, ident: str):
        self.log = log
        self.ident = ident
        self.chain: list[str] = []

    def using(self, fmt: str):
        self.chain.append(f"using({fmt})")
        return self

    def partitionedBy(self, col):
        self.chain.append(f"partitionedBy({col})")
        return self

    def create(self):
        self.log.append((self.ident, self.chain + ["create"]))

    def createOrReplace(self):
        self.log.append((self.ident, self.chain + ["createOrReplace"]))

    def append(self):
        self.log.append((self.ident, self.chain + ["append"]))

    def overwritePartitions(self):
        self.log.append((self.ident, self.chain + ["overwritePartitions"]))


class FakeDF:
    def __init__(self, log: list):
        self.log = log

    def writeTo(self, ident: str) -> FakeWriterV2:
        return FakeWriterV2(self.log, ident)


class FakeCatalog:
    def __init__(self, tables: set[str]):
        self.tables = tables

    def tableExists(self, ident: str) -> bool:
        return ident in self.tables


class FakeRead:
    def __init__(self, log: list):
        self.log = log

    def table(self, ident: str) -> str:
        self.log.append(("read.table", ident))
        return f"df:{ident}"


class FakeSpark:
    def __init__(self, tables: set[str] | None = None):
        self.sql_log: list[str] = []
        self.catalog = FakeCatalog(tables or set())
        self.read = FakeRead(self.sql_log)

    def sql(self, stmt: str):
        self.sql_log.append(stmt)


@pytest.fixture()
def io_and_logs():
    spark = FakeSpark(tables={"prove.triples"})
    io = TableIO(spark, "/tmp/wh", use_iceberg=True)
    writes: list = []
    return io, spark, FakeDF(writes), writes


def test_namespace_created_and_ident(io_and_logs):
    io, spark, _df, _w = io_and_logs
    assert "CREATE NAMESPACE IF NOT EXISTS prove" in spark.sql_log
    assert io.ident("triples") == "prove.triples"


def test_exists_uses_catalog_not_filesystem(io_and_logs):
    io, _spark, _df, _w = io_and_logs
    assert io.exists("triples") is True
    assert io.exists("missing") is False


def test_read_goes_through_catalog(io_and_logs):
    io, spark, _df, _w = io_and_logs
    assert io.read("triples") == "df:prove.triples"
    assert ("read.table", "prove.triples") in spark.sql_log


def test_append_appends_when_table_exists(io_and_logs):
    io, _spark, df, writes = io_and_logs
    io.append(df, "triples")
    assert writes == [("prove.triples", ["append"])]


def test_append_creates_when_table_missing(io_and_logs):
    io, _spark, df, writes = io_and_logs
    io.append(df, "run_status")
    assert writes == [("prove.run_status", ["using(iceberg)", "create"])]


def test_overwrite_is_create_or_replace(io_and_logs):
    io, _spark, df, writes = io_and_logs
    io.overwrite(df, "entities")
    assert writes == [
        ("prove.entities", ["using(iceberg)", "createOrReplace"])
    ]


def test_overwrite_buckets_replaces_partitions_idempotently(io_and_logs, spark):
    """The resume primitive: first write creates the bucket-partitioned
    table; every re-run of a bucket is a dynamic partition REPLACE.
    (The real `spark` fixture is pulled in only because the create path
    constructs an F.col partition expression, which needs a live JVM.)"""
    io, _fake_spark, df, writes = io_and_logs
    io.overwrite_buckets(df, "triples", bucket_col="bucket")
    assert writes == [("prove.triples", ["overwritePartitions"])]
    writes.clear()
    io.overwrite_buckets(df, "checkpoint", bucket_col="bucket")
    assert len(writes) == 1
    ident, chain = writes[0]
    assert ident == "prove.checkpoint"
    assert chain[0] == "using(iceberg)"
    assert chain[1].startswith("partitionedBy(")
    assert chain[2] == "create"


def test_parquet_mode_unaffected_by_flag(tmp_path):
    """use_iceberg=False still routes to the filesystem path layer (the
    in-sandbox production path, fully covered by test_resume.py)."""
    spark = FakeSpark()
    io = TableIO(spark, str(tmp_path), use_iceberg=False)
    assert io.path("triples") == f"{tmp_path}/triples"
    assert spark.sql_log == []  # no namespace DDL in parquet mode


def test_delete_buckets_issues_partition_predicate_delete(io_and_logs):
    io, spark, _df, _w = io_and_logs
    io.delete_buckets("triples", [3, 17])
    assert (
        "DELETE FROM prove.triples WHERE bucket IN (3,17)" in spark.sql_log
    )


def test_delete_buckets_empty_list_is_noop(io_and_logs):
    io, spark, _df, _w = io_and_logs
    n = len(spark.sql_log)
    io.delete_buckets("triples", [])
    assert len(spark.sql_log) == n


@pytest.mark.parametrize(
    "method, second", [("overwrite_buckets", "overwritePartitions"), ("append", "append")]
)
def test_concurrent_first_writes_create_once(spark, method, second):
    """Two bucket groups committing at once into a table that does not exist
    yet: exactly one creates it, and the other writes into it. (The real
    `spark` fixture is pulled in for overwrite_buckets' F.col.)"""
    fake = FakeSpark()
    io = TableIO(fake, "/tmp/wh", use_iceberg=True)
    writes: list = []

    class SlowCreate(FakeWriterV2):
        def create(self):
            time.sleep(0.2)  # the window a second exists() check races in
            fake.catalog.tables.add(self.ident)
            super().create()

    class DF:
        def writeTo(self, ident: str) -> SlowCreate:
            return SlowCreate(writes, ident)

    start = threading.Barrier(2, timeout=30)

    def commit():
        start.wait()
        getattr(io, method)(DF(), "triples")

    threads = [threading.Thread(target=commit) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert sorted(chain[-1] for _, chain in writes) == sorted(["create", second])
