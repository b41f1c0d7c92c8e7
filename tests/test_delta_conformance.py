"""Delta protocol conformance sweep (r7 — the r6 verdict's task #6):
fuzz commit sequences across checkpoint boundaries, the way
test_wasm_interp fuzzes the wasm spec.

Two planes:

1. deltalite (engine/deltalite.py): seeded-random DML sequences
   (append / CoW + MoR DELETE / UPDATE / DV-folding OPTIMIZE) with the
   checkpoint interval shrunk to 4, then EVERY version's snapshot is
   resolved twice — through the checkpoint and by full-log replay — and
   must be identical (file set, DV descriptors, schema, properties), with
   the final table contents equal to a naive dict model.
2. the real-Delta writer (sources/delta_log.py write_delta_table):
   append sequences crossing the parquet-checkpoint cadence; asserts the
   checkpoint file's spec shape (exactly one protocol and one metaData
   row, schemaString parses, partitionValues present, stats JSON matches
   the parquet footers, _last_checkpoint.size exact), version-travel
   reads at every version, and that deleting every checkpoint artifact
   (forcing full JSON replay) resolves the identical snapshot.

An optional delta-rs cross-read runs when the `deltalake` package exists
(absent in this container — the checkpoint-shape asserts encode the same
reader contract).
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from seafowl_spark.engine.deltalite import DeltaLiteTable
from seafowl_spark.sources import delta_log


# Default tier: every case here measured under 20 s warm (slowest: the
# seed-7 replay fuzz, ~10 s; ~75 s for the module), so none is marked
# slow. Mark a case slow only if it reaches 20 s.

def _tbl(ctx, name) -> DeltaLiteTable:
    e = next(e for e in ctx.catalog.tables(ctx.database) if e.name == name)
    return DeltaLiteTable(ctx.spark, ctx.table_root(e))


def _file_key(a) -> tuple:
    d = a.to_json()
    dv = d.get("dv")
    return (
        d["path"],
        d.get("rows"),
        (dv or {}).get("path"),
        (dv or {}).get("cardinality"),
    )


class TestDeltaliteSnapshotReplay:
    @pytest.mark.parametrize("seed", [7, 23, 91])
    def test_random_sequence_checkpoint_equals_full_replay(
        self, ctx, seed, monkeypatch
    ):
        monkeypatch.setattr(DeltaLiteTable, "CHECKPOINT_INTERVAL", 4)
        rng = random.Random(seed)
        mode = rng.choice(["cow", "mor"])
        name = f"fz{seed}"
        ctx.execute(
            f"CREATE TABLE {name} (k BIGINT, v STRING) "
            f"WITH ('delete_mode' = '{mode}')"
        )
        model: dict[int, str] = {}
        nxt = 0

        def do_append():
            nonlocal nxt
            n = rng.randint(1, 20)
            lo, hi = nxt, nxt + n
            nxt = hi
            ctx.execute(
                f"INSERT INTO {name} "
                f"SELECT id, CAST(id AS STRING) FROM range({lo}, {hi})"
            )
            for k in range(lo, hi):
                model[k] = str(k)

        def do_delete():
            m = rng.choice([3, 5, 7])
            r = rng.randrange(m)
            ctx.execute(f"DELETE FROM {name} WHERE k % {m} = {r}")
            for k in [k for k in model if k % m == r]:
                del model[k]

        def do_update():
            m = rng.choice([4, 6])
            r = rng.randrange(m)
            ctx.execute(f"UPDATE {name} SET v = 'upd' WHERE k % {m} = {r}")
            for k in model:
                if k % m == r:
                    model[k] = "upd"

        def do_optimize():
            # target small so compaction actually rewrites; folds DVs back
            _tbl(ctx, name).optimize(target_rows=64)

        n_alters = [0]

        def do_alter():
            # metadata-only schema evolution mid-sequence: the column is
            # all-NULL so the (k, v) model is unaffected, but snapshot
            # replay must carry the per-version schema across checkpoints
            n_alters[0] += 1
            ctx.execute(
                f"ALTER TABLE {name} ADD COLUMN extra_{n_alters[0]} DOUBLE"
            )

        # per-version model snapshots so RESTORE can rewind the model too
        hist: dict[int, dict[int, str]] = {}

        def do_restore():
            nonlocal model
            target = rng.choice(sorted(hist))
            try:
                ctx.execute(
                    f"RESTORE TABLE {name} TO VERSION AS OF {target}"
                )
            except Exception as e:
                # a VACUUM in the sequence may have GC'd the target's
                # files — restore must REFUSE loudly and leave the live
                # state untouched. ONLY the vacuumed-target refusal is a
                # legitimate outcome here; any other error is a real
                # restore bug and must fail the fuzz, not be absorbed.
                assert "vacuumed" in str(e), e
                hist.pop(target, None)
                return
            model = dict(hist[target])

        def do_vacuum():
            # GC every unreferenced file: restore targets whose files die
            # here must be refused by do_restore, never half-applied
            _tbl(ctx, name).vacuum()

        do_append()
        hist[_tbl(ctx, name).latest_version()] = dict(model)
        for _ in range(11):
            rng.choice(
                [
                    do_append,
                    do_append,
                    do_delete,
                    do_update,
                    do_optimize,
                    do_alter,
                    do_restore,
                    do_vacuum,
                ]
            )()
            hist[_tbl(ctx, name).latest_version()] = dict(model)

        t = _tbl(ctx, name)
        vs = t.versions()
        # the sequence crossed at least one checkpoint boundary, and the
        # checkpoint artifacts exist on disk
        assert vs[-1] >= DeltaLiteTable.CHECKPOINT_INTERVAL
        log_files = t.store.list(t.log_dir)
        assert any(f.endswith(".checkpoint.json") for f in log_files), log_files

        for v in vs:
            via_ckpt = t.snapshot(version=v)
            with monkeypatch.context() as mp:
                mp.setattr(
                    DeltaLiteTable, "_load_checkpoint", lambda self, up: None
                )
                via_replay = t.snapshot(version=v)
            assert sorted(map(_file_key, via_ckpt.files)) == sorted(
                map(_file_key, via_replay.files)
            ), f"version {v}"
            assert via_ckpt.schema_ddl == via_replay.schema_ddl
            assert via_ckpt.properties == via_replay.properties
            assert via_ckpt.timestamp_ms == via_replay.timestamp_ms

        got = {
            r.k: r.v
            for r in ctx.execute(f"SELECT k, v FROM {name}").collect()
        }
        assert got == model


class TestRealDeltaWriterConformance:
    @pytest.mark.parametrize("seed", [3, 11])
    def test_append_sequence_spec_shape_and_replay(
        self, spark, tmp_path, monkeypatch, seed
    ):
        monkeypatch.setattr(delta_log, "CHECKPOINT_EVERY", 3)
        rng = random.Random(seed)
        d = str(tmp_path / "t")
        commits: list[tuple[int, int]] = []  # (version, cumulative hi)
        nxt = 0
        for _ in range(rng.randint(7, 9)):
            n = rng.randint(1, 10)
            lo, hi = nxt, nxt + n
            nxt = hi
            df = spark.range(lo, hi).select(
                F.col("id").alias("k"), F.col("id").cast("string").alias("v")
            )
            v = delta_log.write_delta_table(spark, df, d)
            commits.append((v, hi))

        log_dir = os.path.join(d, "_delta_log")
        cks = sorted(
            f for f in os.listdir(log_dir) if f.endswith(".checkpoint.parquet")
        )
        assert cks  # crossed the cadence

        # ---- checkpoint file spec shape (the delta-rs reader contract)
        lc = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
        ck = pq.read_table(
            os.path.join(log_dir, f"{lc['version']:020d}.checkpoint.parquet")
        )
        assert ck.num_rows == lc["size"]
        rows = ck.to_pylist()
        protos = [r["protocol"] for r in rows if r.get("protocol") is not None]
        metas = [r["metaData"] for r in rows if r.get("metaData") is not None]
        adds = [r["add"] for r in rows if r.get("add") is not None]
        assert len(protos) == 1  # spec: exactly one protocol action
        assert protos[0]["minReaderVersion"] == 1
        assert len(metas) == 1  # spec: exactly one metaData action
        schema_json = json.loads(metas[0]["schemaString"])
        assert schema_json["type"] == "struct"
        assert {f["name"] for f in schema_json["fields"]} == {"k", "v"}
        assert metas[0]["partitionColumns"] == []
        assert len(adds) >= 1
        for a in adds:
            # partitionValues must be PRESENT (empty map), not null — the
            # field is required by the protocol's add schema
            assert a["partitionValues"] is not None
            st = json.loads(a["stats"])
            pf = pq.ParquetFile(os.path.join(d, a["path"]))
            assert st["numRecords"] == pf.metadata.num_rows
            assert "minValues" in st and "maxValues" in st
            assert int(st["minValues"]["k"]) <= int(st["maxValues"]["k"])
            assert a["size"] == os.path.getsize(os.path.join(d, a["path"]))

        # ---- version travel: every version reads the cumulative prefix
        for v, hi in commits:
            got = sorted(
                r.k for r in delta_log.read_delta(spark, d, version=v).collect()
            )
            assert got == list(range(0, hi)), f"version {v}"

        # ---- checkpoint resolution == full JSON replay
        d2 = str(tmp_path / "replay")
        shutil.copytree(d, d2)
        for f in os.listdir(os.path.join(d2, "_delta_log")):
            if "checkpoint" in f or f == "_last_checkpoint":
                os.remove(os.path.join(d2, "_delta_log", f))
        a1, m1 = delta_log.delta_snapshot_adds(d)
        a2, m2 = delta_log.delta_snapshot_adds(d2)
        key1 = {
            os.path.relpath(p, d): (a["size"], a.get("stats"))
            for p, a in a1.items()
        }
        key2 = {
            os.path.relpath(p, d2): (a["size"], a.get("stats"))
            for p, a in a2.items()
        }
        assert key1 == key2
        assert m1.get("schemaString") == m2.get("schemaString")

        # ---- optional: real delta-rs cross-read when available
        try:
            from deltalake import DeltaTable  # noqa: F401
        except ImportError:
            return
        dt = DeltaTable(d)
        assert sorted(dt.to_pandas()["k"].tolist()) == list(range(0, commits[-1][1]))


class TestGoldenDeltaRsFixture:
    """r8 (r7 verdict task #5, no `deltalake` wheel in this env): a
    HAND-WRITTEN delta-rs-style table — JSON commits, a multi-part
    parquet checkpoint, an inline (z85) deletion vector, special-char
    and NULL hive partitions — built with zero engine code. Our reader
    must resolve it exactly; our writer must emit the same byte-level
    conventions the fixture uses, so any third-party reader accepting
    the fixture accepts our logs too."""

    PART_COLS = ["part"]

    def _write_data(self, d, rel, ks):
        import pyarrow as pa

        p = os.path.join(d, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table({"k": ks, "v": [f"v{k}" for k in ks]}), p
        )
        return os.path.getsize(p)

    @staticmethod
    def _add(path, size, pvals, ks, dv=None):
        a = {
            "path": path,
            "partitionValues": pvals,
            "size": size,
            "modificationTime": 1700000000000,
            "dataChange": True,
            "stats": json.dumps(
                {
                    "numRecords": len(ks),
                    "minValues": {"k": min(ks), "v": f"v{min(ks)}"},
                    "maxValues": {"k": max(ks), "v": f"v{max(ks)}"},
                    "nullCount": {"k": 0, "v": 0},
                }
            ),
        }
        if dv:
            a["deletionVector"] = dv
        return a

    def _build(self, root):
        """Returns (table_dir, adds-by-name dict)."""
        from seafowl_spark.sources.delta_dv import encode_rbm_array, z85_encode

        d = os.path.join(root, "golden")
        log = os.path.join(d, "_delta_log")
        os.makedirs(log)
        # data files: partition column NOT in the files (per spec); the
        # directory name uses hive escaping (literal space), the LOG
        # path percent-encodes on top
        s1 = self._write_data(d, "part=a b/f1.parquet", [0, 1, 2, 3, 4])
        s2 = self._write_data(d, "part=c/f2.parquet", [10, 11, 12, 13, 14])
        s3 = self._write_data(d, "part=a b/f3.parquet", [20, 21, 22, 23, 24])
        s4 = self._write_data(d, "part=c/f4.parquet", [30, 31, 32, 33, 34])
        s5 = self._write_data(
            d, "part=__HIVE_DEFAULT_PARTITION__/f5.parquet", [40, 41, 42, 43, 44]
        )
        # inline deletion vector killing f4's row index 1 (k=31):
        # z85 payload padded to a 4-byte multiple, sizeInBytes = true size
        rbm = encode_rbm_array([1])
        pad = (-len(rbm)) % 4
        dv = {
            "storageType": "i",
            "pathOrInlineDv": z85_encode(rbm + b"\x00" * pad),
            "sizeInBytes": len(rbm),
            "cardinality": 1,
        }
        proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        meta = {
            "metaData": {
                "id": "11111111-2222-3333-4444-555555555555",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                            {"name": "part", "type": "string", "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": ["part"],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        }
        a1 = self._add("part=a%20b/f1.parquet", s1, {"part": "a b"}, [0, 1, 2, 3, 4])
        a2 = self._add("part=c/f2.parquet", s2, {"part": "c"}, [10, 11, 12, 13, 14])
        a3 = self._add("part=a%20b/f3.parquet", s3, {"part": "a b"}, [20, 21, 22, 23, 24])
        a4 = self._add("part=c/f4.parquet", s4, {"part": "c"}, [30, 31, 32, 33, 34], dv=dv)
        a5 = self._add(
            "part=__HIVE_DEFAULT_PARTITION__/f5.parquet",
            s5,
            {"part": None},
            [40, 41, 42, 43, 44],
        )

        def commit(v, actions):
            with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
                for a in actions:
                    f.write(json.dumps(a) + "\n")
                f.write(
                    json.dumps(
                        {"commitInfo": {"timestamp": 1700000000000 + v * 1000}}
                    )
                    + "\n"
                )

        commit(0, [proto, meta, {"add": a1}, {"add": a2}])
        commit(1, [{"add": a3}, {"remove": {"path": a2["path"], "dataChange": True}}])
        commit(2, [{"add": a4}])
        commit(3, [{"add": a5}])

        # multi-part checkpoint at v2 (state AFTER v2: a1, a3, a4+DV),
        # with the arrow schema delta-rs writes: string-map fields are
        # MAP columns (to_pylist returns them as tuple lists — the
        # reader must normalize), the DV descriptor a nested struct
        import pyarrow as pa

        str_map = pa.map_(pa.string(), pa.string())
        ck_schema = pa.schema(
            [
                pa.field("protocol", pa.struct([
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                ])),
                pa.field("metaData", pa.struct([
                    ("id", pa.string()),
                    ("format", pa.struct([
                        ("provider", pa.string()),
                        ("options", str_map),
                    ])),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", str_map),
                    ("createdTime", pa.int64()),
                ])),
                pa.field("add", pa.struct([
                    ("path", pa.string()),
                    ("partitionValues", str_map),
                    ("size", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("dataChange", pa.bool_()),
                    ("stats", pa.string()),
                    ("deletionVector", pa.struct([
                        ("storageType", pa.string()),
                        ("pathOrInlineDv", pa.string()),
                        ("sizeInBytes", pa.int32()),
                        ("cardinality", pa.int64()),
                    ])),
                ])),
            ]
        )
        part1 = pa.Table.from_pylist(
            [
                {"protocol": proto["protocol"], "metaData": None, "add": None},
                {"protocol": None, "metaData": meta["metaData"], "add": None},
                {"protocol": None, "metaData": None, "add": a1},
            ],
            schema=ck_schema,
        )
        part2 = pa.Table.from_pylist(
            [
                {"protocol": None, "metaData": None, "add": a3},
                {"protocol": None, "metaData": None, "add": a4},
            ],
            schema=ck_schema,
        )
        pq.write_table(
            part1,
            os.path.join(log, f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
        )
        pq.write_table(
            part2,
            os.path.join(log, f"{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
        )
        with open(os.path.join(log, "_last_checkpoint"), "w") as f:
            json.dump({"version": 2, "size": 5, "parts": 2}, f)
        return d, {"a1": a1, "a2": a2, "a3": a3, "a4": a4, "a5": a5}

    def test_reader_resolves_fixture_exactly(self, spark, tmp_path):
        d, _ = self._build(str(tmp_path))
        got = {
            (r["k"], r["part"])
            for r in delta_log.read_delta(spark, d).collect()
        }
        want = (
            {(k, "a b") for k in [0, 1, 2, 3, 4, 20, 21, 22, 23, 24]}
            | {(k, "c") for k in [30, 32, 33, 34]}  # DV dropped k=31
            | {(k, None) for k in [40, 41, 42, 43, 44]}
        )
        assert got == want

    def test_time_travel_replays_pre_checkpoint_json(self, spark, tmp_path):
        d, _ = self._build(str(tmp_path))
        v0 = {r["k"] for r in delta_log.read_delta(spark, d, version=0).collect()}
        assert v0 == set(range(0, 5)) | set(range(10, 15))
        v1 = {r["k"] for r in delta_log.read_delta(spark, d, version=1).collect()}
        assert v1 == set(range(0, 5)) | set(range(20, 25))

    def test_checkpoint_truncated_log_resolves(self, spark, tmp_path):
        """delta-rs vacuums expired commits below the checkpoint; the
        snapshot must then come from the checkpoint alone."""
        d, _ = self._build(str(tmp_path))
        full = {
            (r["k"], r["part"])
            for r in delta_log.read_delta(spark, d).collect()
        }
        for v in (0, 1, 2):
            os.remove(os.path.join(d, "_delta_log", f"{v:020d}.json"))
        trunc = {
            (r["k"], r["part"])
            for r in delta_log.read_delta(spark, d).collect()
        }
        assert trunc == full

    def test_partition_pruning_on_fixture(self, spark, tmp_path):
        d, _ = self._build(str(tmp_path))
        adds, _m = delta_log.delta_snapshot_adds(d)
        kept = delta_log.prune_adds(adds, "part = 'a b'")
        assert {os.path.basename(p) for p in kept} == {"f1.parquet", "f3.parquet"}
        # decoded absolute paths land on the real files
        assert all(os.path.exists(p) for p in adds)

    def test_writer_matches_fixture_conventions(self, spark, tmp_path):
        """Byte-level convention parity: for the same logical partitions,
        our writer's add actions use the exact encoding the hand-built
        delta-rs fixture uses (percent-encoded log path over the
        hive-escaped dir, decoded partitionValues, NULL as
        __HIVE_DEFAULT_PARTITION__, partition cols absent from data
        files) — so a reader accepting the fixture accepts ours."""
        from pyspark.sql import functions as F

        from seafowl_spark.sources.delta_log import write_delta_table

        d = str(tmp_path / "ours")
        rows = [(k, f"v{k}", "a b") for k in range(5)] + [
            (k, f"v{k}", "c") for k in range(30, 35)
        ] + [(k, f"v{k}", None) for k in range(40, 45)]
        df = spark.createDataFrame(rows, "k long, v string, part string")
        write_delta_table(spark, df, d, partition_by=["part"])
        with open(os.path.join(d, "_delta_log", f"{0:020d}.json")) as f:
            acts = [json.loads(ln) for ln in f if ln.strip()]
        adds = [a["add"] for a in acts if "add" in a]
        conventions = {
            (a["path"].rsplit("/", 1)[0], a["partitionValues"]["part"])
            for a in adds
        }
        assert conventions == {
            ("part=a%20b", "a b"),
            ("part=c", "c"),
            ("part=__HIVE_DEFAULT_PARTITION__", None),
        }
        # partition column absent from the data files themselves
        import glob as _g

        for p in _g.glob(os.path.join(d, "part=*", "*.parquet")):
            assert "part" not in pq.read_schema(p).names
        # and the logical contents equal the fixture's same-partition rows
        ours = {
            (r["k"], r["part"])
            for r in delta_log.read_delta(spark, d).collect()
        }
        assert ours == {(k, "a b") for k in range(5)} | {
            (k, "c") for k in range(30, 35)
        } | {(k, None) for k in range(40, 45)}


class TestPartitionedWriterConformance:
    """Partitioned appends in the real-writer fuzz (the r7 COVERAGE
    round-8 queue item): random partitioned appends crossing the
    checkpoint cadence; partitionValues must survive the checkpoint
    round-trip AS DICTS (arrow MAP columns come back as tuple lists from
    to_pylist — the reader normalizes), version travel and full-replay
    equality must hold, and partition predicates must keep pruning
    through a checkpoint-sourced snapshot."""

    @pytest.mark.parametrize("seed", [5, 23])
    def test_partitioned_append_fuzz(self, spark, tmp_path, monkeypatch, seed):
        monkeypatch.setattr(delta_log, "CHECKPOINT_EVERY", 3)
        rng = random.Random(seed)
        d = str(tmp_path / "pt")
        parts = ["a b", "c", None, "x%y"]
        model: list[tuple[int, str | None]] = []
        commits = []
        nxt = 0
        for _ in range(rng.randint(7, 9)):
            n = rng.randint(1, 8)
            batch = [
                (nxt + i, rng.choice(parts)) for i in range(n)
            ]
            nxt += n
            model.extend(batch)
            df = spark.createDataFrame(batch, "k long, part string")
            v = delta_log.write_delta_table(
                spark, df, d, partition_by=["part"]
            )
            commits.append((v, list(model)))

        log_dir = os.path.join(d, "_delta_log")
        assert any(
            f.endswith(".checkpoint.parquet") for f in os.listdir(log_dir)
        )

        # checkpoint-sourced adds carry DICT partitionValues
        adds, meta = delta_log.delta_snapshot_adds(d)
        assert meta["partitionColumns"] == ["part"]
        for a in adds.values():
            assert isinstance(a["partitionValues"], dict)
        logged = {a["partitionValues"]["part"] for a in adds.values()}
        want_parts = {p for _, p in model}
        assert logged == {p if p is not None else None for p in want_parts}

        # every version reads its cumulative prefix, partitions intact
        for v, snap_model in commits:
            got = sorted(
                (r["k"], r["part"])
                for r in delta_log.read_delta(spark, d, version=v).collect()
            )
            assert got == sorted(snap_model), f"version {v}"

        # partition predicate prunes through the checkpoint path
        kept = delta_log.prune_adds(adds, "part = 'a b'")
        assert all(v["partitionValues"]["part"] == "a b" for v in kept.values())
        if "a b" in want_parts:
            assert kept

        # full JSON replay == checkpoint resolution
        d2 = str(tmp_path / "replay")
        shutil.copytree(d, d2)
        for f in os.listdir(os.path.join(d2, "_delta_log")):
            if "checkpoint" in f or f == "_last_checkpoint":
                os.remove(os.path.join(d2, "_delta_log", f))
        a2, m2 = delta_log.delta_snapshot_adds(d2)
        k1 = {
            os.path.relpath(p, d): (a["size"], a["partitionValues"])
            for p, a in adds.items()
        }
        k2 = {
            os.path.relpath(p, d2): (a["size"], a["partitionValues"])
            for p, a in a2.items()
        }
        assert k1 == k2
