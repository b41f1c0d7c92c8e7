"""Arrow Flight frontend tests (reference tests/flight/): query roundtrip,
search-path scoping, inline metastore, CDC sync over do_put."""

import json

import pandas as pd
import pyarrow as pa
import pyarrow.flight as flight
import pytest

from seafowl_spark.engine.flight import start_flight_server
from tests.conftest import rows


@pytest.fixture()
def server(ctx):
    srv = start_flight_server(ctx)
    yield ctx, srv, flight.FlightClient(f"grpc://127.0.0.1:{srv.port}")
    srv.shutdown()


def run_query(client, command: dict) -> pa.Table:
    desc = flight.FlightDescriptor.for_command(json.dumps(command).encode())
    info = client.get_flight_info(desc)
    return client.do_get(info.endpoints[0].ticket).read_all()


class TestFlightQueries:
    def test_query_roundtrip(self, server):
        ctx, srv, client = server
        ctx.execute("CREATE TABLE f (x int, s text); INSERT INTO f VALUES (1, 'a'), (2, 'b')")
        t = run_query(client, {"query": "SELECT * FROM f ORDER BY x"})
        assert t.to_pydict() == {"x": [1, 2], "s": ["a", "b"]}

    def test_ticket_consumed_once(self, server):
        ctx, srv, client = server
        ctx.execute("CREATE TABLE g (x int); INSERT INTO g VALUES (1)")
        desc = flight.FlightDescriptor.for_command(
            json.dumps({"query": "SELECT * FROM g"}).encode()
        )
        info = client.get_flight_info(desc)
        client.do_get(info.endpoints[0].ticket).read_all()
        with pytest.raises(flight.FlightServerError):
            client.do_get(info.endpoints[0].ticket).read_all()

    def test_search_path(self, server):
        ctx, srv, client = server
        ctx.execute("CREATE SCHEMA alt")
        ctx.execute("CREATE TABLE alt.sp (x int); INSERT INTO alt.sp VALUES (7)")
        t = run_query(client, {"query": "SELECT * FROM sp", "search_path": "alt"})
        assert t.to_pydict() == {"x": [7]}

    def test_inline_metastore(self, server, tmp_path):
        """Stateless serving: client ships table name -> deltalite path."""
        ctx, srv, client = server
        ctx.execute("CREATE TABLE src (x int); INSERT INTO src VALUES (5), (6)")
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "src"))
        t = run_query(
            client,
            {"query": "SELECT sum(x) AS s FROM shipped", "tables": {"shipped": root}},
        )
        assert t.to_pydict() == {"s": [11]}


class TestFlightSync:
    def test_do_put_then_flush(self, server):
        ctx, srv, client = server
        ctx.execute("CREATE TABLE ft (pk bigint, v text)")
        ctx.execute("INSERT INTO ft VALUES (1, 'one')")
        root = ctx.table_root(ctx.catalog.get_table("default", "public", "ft"))

        cmd = {
            "path": root,
            "origin": "test-origin",
            "sequence_number": 1,
            "descriptors": [
                {"name": "old_pk", "role": "old_pk", "target": "pk"},
                {"name": "new_pk", "role": "new_pk", "target": "pk"},
                {"name": "v", "role": "value", "target": "v"},
            ],
        }
        batch = pa.Table.from_pandas(
            pd.DataFrame({"old_pk": [1.0, None], "new_pk": [1.0, 2.0], "v": ["ONE", "two"]})
        )
        desc = flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
        writer, _ = client.do_put(desc, batch.schema)
        writer.write_table(batch)
        writer.close()
        client.do_action(flight.Action("flush", b""))

        out = ctx.execute("SELECT pk, v FROM ft ORDER BY pk")
        assert rows(out) == [(1, "ONE"), (2, "two")]

    @staticmethod
    def _put(client, table: str, sequence: int, pk: float, v: str) -> None:
        cmd = {
            "table": table,
            "origin": "test-origin",
            "sequence_number": sequence,
            "descriptors": [
                {"name": "old_pk", "role": "old_pk", "target": "pk"},
                {"name": "new_pk", "role": "new_pk", "target": "pk"},
                {"name": "v", "role": "value", "target": "v"},
            ],
        }
        batch = pa.Table.from_pandas(
            pd.DataFrame({"old_pk": [None], "new_pk": [pk], "v": [v]})
        )
        desc = flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
        writer, _ = client.do_put(desc, batch.schema)
        writer.write_table(batch)
        writer.close()

    def test_flush_action_records_its_versions(self, server):
        """The flush action's merge used to stay out of
        system.table_versions until the next put, and a put recorded only
        the latest version, so the first flush's version was never
        listed."""
        ctx, srv, client = server
        ctx.execute("CREATE TABLE c (pk bigint, v text)")
        self._put(client, "c", 1, 1.0, "one")
        client.do_action(flight.Action("flush", b""))
        self._put(client, "c", 2, 2.0, "two")
        client.do_action(flight.Action("flush", b""))
        assert rows(ctx.execute("SELECT pk, v FROM c")) == [(1, "one"), (2, "two")]
        out = ctx.execute(
            "SELECT version, operation FROM system.table_versions "
            "WHERE table_name = 'c' ORDER BY version"
        )
        assert [r[0] for r in out.collect()] == [0, 1, 2]

    def test_put_without_flush_skips_catalog_and_log(self, server, monkeypatch):
        """A put that only buffers resolves its table name and runs the
        sync writer's exactly-once check, and nothing else: it used to
        write the catalog and list the table's log three times after
        every put."""
        from seafowl_spark.engine.catalog import Catalog
        from seafowl_spark.sources.store import LocalStore
        from seafowl_spark.streaming.sync import SyncWriter

        ctx, srv, client = server
        ctx.execute("CREATE TABLE c (pk bigint, v text)")
        calls: list[str] = []
        for name, fn in list(vars(Catalog).items()):
            if callable(fn) and not name.startswith("_"):
                monkeypatch.setattr(
                    Catalog, name,
                    lambda self, *a, _n=name, _f=fn, **k: calls.append(_n) or _f(self, *a, **k),
                )
        in_enqueue = []
        log_lists = []
        orig_list, orig_enqueue = LocalStore.list, SyncWriter.enqueue

        def counting_list(self, prefix):
            if prefix.rstrip("/").endswith("_delta_log") and not in_enqueue:
                log_lists.append(prefix)
            return orig_list(self, prefix)

        def marked_enqueue(self, *a, **k):
            in_enqueue.append(1)
            try:
                return orig_enqueue(self, *a, **k)
            finally:
                in_enqueue.pop()

        monkeypatch.setattr(LocalStore, "list", counting_list)
        monkeypatch.setattr(SyncWriter, "enqueue", marked_enqueue)
        self._put(client, "c", 1, 1.0, "one")
        assert calls == ["get_table"]  # name resolution only
        assert log_lists == []
        assert srv.sync_writer._buffers  # buffered, not flushed


class TestFlightTypesRoundtrip:
    def test_ddl_types_roundtrip(self, server):
        """reference tests/flight/client.rs test_ddl_types_roundtrip: CTAS
        over every SQL type (ints, chars, decimal, floats, bool, date,
        timestamp, arrays), read back over Flight with values and Arrow
        types intact. TEXT -> STRING and bracket array literals ->
        array() are Spark SQL spellings of the same types."""
        ctx, srv, client = server
        all_types_query = """
SELECT
  1::TINYINT AS tinyint_val,
  1000::SMALLINT AS smallint_val,
  1000000::INT AS integer_val,
  1000000000::BIGINT AS bigint_val,
  'c'::CHAR(1) AS char_val,
  'varchar'::VARCHAR(10) AS varchar_val,
  'string'::STRING AS string_val,
  12.345::DECIMAL(5, 2) AS decimal_val,
  12.345::FLOAT AS float_val,
  12.3456789101112131415::DOUBLE AS double_val,
  'true'::BOOLEAN AS bool_val,
  '2022-01-01'::DATE AS date_val,
  '2022-01-01T12:03:11.123456Z'::TIMESTAMP AS timestamp_val,
  array(1,2,3,4,5) AS int_array_val,
  array('one','two') AS text_array_val
"""
        assert ctx.execute(f"CREATE TABLE flight_types AS ({all_types_query})") is None
        t = run_query(client, {"query": "SELECT * FROM flight_types"})
        assert t.num_rows == 1
        row = {c: t[c][0].as_py() for c in t.column_names}
        import datetime as dt
        from decimal import Decimal

        assert row["tinyint_val"] == 1 and t["tinyint_val"].type == pa.int8()
        assert row["smallint_val"] == 1000 and t["smallint_val"].type == pa.int16()
        assert row["integer_val"] == 1000000 and t["integer_val"].type == pa.int32()
        assert row["bigint_val"] == 1000000000 and t["bigint_val"].type == pa.int64()
        assert row["char_val"] == "c"
        assert row["varchar_val"] == "varchar"
        assert row["string_val"] == "string"
        assert row["decimal_val"] == Decimal("12.35")  # 5,2 rounds
        assert row["float_val"] == pytest.approx(12.345) and t["float_val"].type == pa.float32()
        assert row["double_val"] == 12.345678910111213
        assert row["bool_val"] is True
        assert row["date_val"] == dt.date(2022, 1, 1)
        # engine TIMESTAMP is session-tz (UTC-pinned); reference stores naive
        # micros — same instant, tz-aware spelling
        assert row["timestamp_val"] == dt.datetime(
            2022, 1, 1, 12, 3, 11, 123456, tzinfo=dt.timezone.utc
        )
        assert row["int_array_val"] == [1, 2, 3, 4, 5]
        assert row["text_array_val"] == ["one", "two"]


class TestFlightInlineIceberg:
    def test_inline_iceberg_table(self, server, tmp_path):
        """Inline metastore with a per-table format spec (the reference's
        external metastore serves delta AND iceberg tables per schema,
        tests/fixtures.rs:27-70): ship {"path": metadata.json, "format":
        "iceberg"} and query it without catalog registration."""
        from pyspark.sql import Row

        from seafowl_spark.sources.iceberg import write_iceberg_table

        ctx, srv, client = server
        d = str(tmp_path / "itbl")
        df = ctx.spark.createDataFrame([Row(key=1, value="one"), Row(key=2, value="two")])
        meta = write_iceberg_table(ctx.spark, df, d)
        t = run_query(
            client,
            {
                "query": "SELECT sum(key) AS s FROM shipped_ice",
                "tables": {"shipped_ice": {"path": meta, "format": "iceberg"}},
            },
        )
        assert t.to_pydict() == {"s": [3]}


class TestFlightInterleaving:
    def test_interleaving_queries(self, server):
        """reference tests/flight/e2e.rs test_interleaving_queries: obtain
        tickets for two different queries, then consume them in reverse
        order — each stream must serve its own query's result."""
        ctx, srv, client = server
        ctx.execute(
            "CREATE TABLE flight_table AS SELECT * FROM VALUES (1, 'one'), (2, 'two') AS t(c1, c2)"
        )
        d1 = flight.FlightDescriptor.for_command(
            json.dumps({"query": "SELECT MAX(c1) AS m FROM flight_table"}).encode()
        )
        info1 = client.get_flight_info(d1)
        d2 = flight.FlightDescriptor.for_command(
            json.dumps({"query": "SELECT MIN(c2) AS m FROM flight_table"}).encode()
        )
        info2 = client.get_flight_info(d2)
        # consume in reverse acquisition order
        t2 = client.do_get(info2.endpoints[0].ticket).read_all()
        t1 = client.do_get(info1.endpoints[0].ticket).read_all()
        assert t2.to_pydict() == {"m": ["one"]}
        assert t1.to_pydict() == {"m": [2]}

    def test_concurrent_time_travel_reads(self, server):
        """Two threads time-travel the same table to different versions
        simultaneously; each must see its own snapshot (the round-1 advice
        race: deterministic temp-view aliases clobbered across threads)."""
        import threading

        import datetime as dt

        ctx, srv, client = server
        ctx.execute("CREATE TABLE tt (x int)")
        ctx.execute("INSERT INTO tt VALUES (1)")      # version with sum 1
        import time as _time

        _time.sleep(0.01)
        ctx.execute("INSERT INTO tt VALUES (10)")     # version with sum 11
        t = ctx.delta_table("tt")

        def ts_of(version):
            return dt.datetime.fromtimestamp(
                t.read_commit(version).timestamp_ms / 1000, dt.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")

        ts1, ts2 = ts_of(1), ts_of(2)
        results: dict[int, list] = {}
        errors: list[Exception] = []

        def read(ts, expect_key):
            try:
                q = f"SELECT sum(x) AS s FROM tt FOR TIMESTAMP AS OF '{ts}'"
                out = run_query(client, {"query": q})
                results[expect_key] = out["s"].to_pylist()
            except Exception as ex:  # noqa: BLE001
                errors.append(ex)

        threads = [
            threading.Thread(target=read, args=(ts, i % 2))
            for i, ts in enumerate([ts1, ts2] * 4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert results[0] == [1] and results[1] == [11]


class TestFlightInlineIcebergWrite:
    def test_insert_appends_snapshot_pinned_read_unchanged(self, server, tmp_path):
        """Reference tests/flight/inline_metastore.rs test_inline_iceberg_write:
        INSERT through the inline metastore commits a new snapshot; the
        shipped (pinned) metadata version still reads the old data."""
        import os

        from pyspark.sql import Row

        from seafowl_spark.sources.iceberg import write_iceberg_table

        ctx, srv, client = server
        d = str(tmp_path / "iwtbl")
        m1 = write_iceberg_table(
            ctx.spark,
            ctx.spark.createDataFrame([Row(key=1, value="one"), Row(key=2, value="two")]),
            d,
        )
        tables = {"ice_w": {"path": m1, "format": "iceberg"}}
        out = run_query(
            client,
            {
                "query": "INSERT INTO ice_w (key, value) VALUES (5, 'five'), (6, 'six')",
                "tables": tables,
            },
        )
        assert out.num_rows == 0
        # pinned v1 read is unaffected
        t = run_query(
            client,
            {"query": "SELECT key FROM ice_w ORDER BY key", "tables": tables},
        )
        assert t.to_pydict() == {"key": [1, 2]}
        # the new metadata version sees both
        m2 = os.path.join(d, "metadata", "v2.metadata.json")
        t2 = run_query(
            client,
            {
                "query": "SELECT key FROM ice_w2 ORDER BY key",
                "tables": {"ice_w2": {"path": m2, "format": "iceberg"}},
            },
        )
        assert t2.to_pydict() == {"key": [1, 2, 5, 6]}
