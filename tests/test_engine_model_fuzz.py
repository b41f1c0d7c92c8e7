"""Model-based engine fuzz (r8 session D): seeded-random DDL/DML
statement sequences run against the ENGINE and an in-memory Python
model simultaneously; after every step the full table contents must
match. This generalizes the feature-scoped fuzzes (matview refresh,
view tracking, delta conformance) to arbitrary cross-statement
interactions — the class of bug the round-8 reviews kept finding
(stale snapshots, pruning corners, guard gaps) surfaces here as a
mismatch with a replayable seed."""

from __future__ import annotations

import random

import pytest

from tests.conftest import rows

COLS = "k bigint, g string, v bigint"
GROUPS = ["a", "b", "c"]


# slow tier (r14, the r13 verdict's task #3): randomized statement/lifecycle fuzz matrix -- multi-
# minute; excluded from the default gate so the driver's pytest
# window completes. Opt in with --runslow (or -m slow).
pytestmark = pytest.mark.slow

class Model:
    """tables: name -> {k: (g, v)} — k is the row key the fuzz controls."""

    def __init__(self):
        self.tables: dict[str, dict[int, tuple[str, int]]] = {}
        self.next_k = 0

    def create(self, name):
        self.tables[name] = {}

    def drop(self, name):
        del self.tables[name]

    def insert(self, name, n, rng):
        out = []
        for _ in range(n):
            k = self.next_k
            self.next_k += 1
            row = (rng.choice(GROUPS), rng.randrange(100))
            self.tables[name][k] = row
            out.append((k, *row))
        return out

    def update(self, name, g, delta):
        for k, (gg, v) in self.tables[name].items():
            if gg == g:
                self.tables[name][k] = (gg, v + delta)

    def delete(self, name, g, vmod):
        self.tables[name] = {
            k: (gg, v)
            for k, (gg, v) in self.tables[name].items()
            if not (gg == g and v % 3 == vmod)
        }

    def truncate(self, name):
        self.tables[name] = {}

    def expect(self, name):
        return sorted((k, g, v) for k, (g, v) in self.tables[name].items())


def _step(ctx, model: Model, rng: random.Random) -> str:
    names = list(model.tables)
    roll = rng.random()
    if not names or (roll < 0.10 and len(names) < 4):
        name = f"ft{rng.randrange(1000)}"
        while name in model.tables:
            name = f"ft{rng.randrange(1000)}"
        ctx.execute(f"CREATE TABLE {name} ({COLS})")
        model.create(name)
        return f"create {name}"
    name = rng.choice(names)
    if roll < 0.15 and len(names) > 1:
        ctx.execute(f"DROP TABLE {name}")
        model.drop(name)
        return f"drop {name}"
    if roll < 0.55:
        new = model.insert(name, rng.randrange(1, 6), rng)
        vals = ", ".join(f"({k}, '{g}', {v})" for k, g, v in new)
        ctx.execute(f"INSERT INTO {name} VALUES {vals}")
        return f"insert {name} x{len(new)}"
    if roll < 0.75:
        g, d = rng.choice(GROUPS), rng.randrange(1, 10)
        ctx.execute(f"UPDATE {name} SET v = v + {d} WHERE g = '{g}'")
        model.update(name, g, d)
        return f"update {name} {g}+{d}"
    if roll < 0.92:
        g, m = rng.choice(GROUPS), rng.randrange(3)
        ctx.execute(f"DELETE FROM {name} WHERE g = '{g}' AND v % 3 = {m}")
        model.delete(name, g, m)
        return f"delete {name} {g}%{m}"
    ctx.execute(f"TRUNCATE {name}")
    model.truncate(name)
    return f"truncate {name}"


def _latest_version(ctx, name: str) -> int:
    from seafowl_spark.engine.deltalite import DeltaLiteTable

    e = next(
        x for x in ctx.catalog.tables(ctx.database) if x.name == name
    )
    return DeltaLiteTable(ctx.spark, ctx.table_root(e)).latest_version()


class TestEngineModelFuzzViews:
    """r9 extension (the r8 verdict's task #6): the DDL/DML alphabet
    gains ALTER TABLE RENAME and CREATE/REPLACE/DROP VIEW. Views are
    TEXT-based — they bind their base by NAME at every re-expansion — so
    the model tracks (view -> base name) and expects: a view whose base
    name is live equals that table's contents (even if the name now
    belongs to a DIFFERENT table than at creation), and a view whose
    base name is unbound errors cleanly."""

    @pytest.mark.parametrize("seed", [313, 599])
    def test_rename_and_view_churn_matches_model(self, ctx, seed):
        rng = random.Random(seed)
        model = Model()
        views: dict[str, str] = {}  # view name -> base TABLE NAME
        trace = []

        def fresh_table_name():
            # small pool so renames/creates can REBIND a name a view holds
            for _ in range(50):
                n = f"mt{rng.randrange(6)}"
                if n not in model.tables and n not in views:
                    return n
            return None

        for step in range(30):
            names = list(model.tables)
            roll = rng.random()
            if not names or (roll < 0.12 and len(names) < 4):
                name = fresh_table_name()
                if name:
                    ctx.execute(f"CREATE TABLE {name} ({COLS})")
                    model.create(name)
                    trace.append(f"create {name}")
            elif roll < 0.24:
                # RENAME under live views: the old name unbinds (views
                # over it break), the new name must be free
                src = rng.choice(names)
                dst = fresh_table_name()
                if dst:
                    ctx.execute(f"ALTER TABLE {src} RENAME TO {dst}")
                    model.tables[dst] = model.tables.pop(src)
                    trace.append(f"rename {src}->{dst}")
            elif roll < 0.34 and len(names) > 1:
                name = rng.choice(names)
                ctx.execute(f"DROP TABLE {name}")
                model.drop(name)
                trace.append(f"drop {name}")
            elif roll < 0.46 and len(views) < 3:
                vn = f"mv{rng.randrange(4)}"
                base = rng.choice(names)
                if vn not in views and vn not in model.tables:
                    ctx.execute(
                        f"CREATE VIEW {vn} AS SELECT k, g, v FROM {base}"
                    )
                    views[vn] = base
                    trace.append(f"view {vn}->{base}")
            elif roll < 0.52 and views:
                # CREATE OR REPLACE rebases an existing view (never onto
                # itself — the engine rejects self-reference)
                vn = rng.choice(list(views))
                base = rng.choice(names)
                ctx.execute(
                    f"CREATE OR REPLACE VIEW {vn} AS "
                    f"SELECT k, g, v FROM {base}"
                )
                views[vn] = base
                trace.append(f"replace {vn}->{base}")
            elif roll < 0.58 and views:
                vn = rng.choice(list(views))
                ctx.execute(f"DROP VIEW {vn}")
                del views[vn]
                trace.append(f"dropview {vn}")
            elif roll < 0.80:
                name = rng.choice(names)
                new = model.insert(name, rng.randrange(1, 5), rng)
                vals = ", ".join(f"({k}, '{g}', {v})" for k, g, v in new)
                ctx.execute(f"INSERT INTO {name} VALUES {vals}")
                trace.append(f"insert {name}")
            else:
                name = rng.choice(names)
                g, d = rng.choice(GROUPS), rng.randrange(1, 9)
                ctx.execute(f"UPDATE {name} SET v = v + {d} WHERE g = '{g}'")
                model.update(name, g, d)
                trace.append(f"update {name}")
            # verify a random table AND every view, each step
            if model.tables:
                name = rng.choice(list(model.tables))
                got = sorted(rows(ctx.execute(f"SELECT k, g, v FROM {name}")))
                assert got == model.expect(name), (seed, step, trace[-3:], name)
            for vn, base in views.items():
                if base in model.tables:
                    got = sorted(
                        rows(ctx.execute(f"SELECT k, g, v FROM {vn}"))
                    )
                    assert got == model.expect(base), (
                        seed, step, trace[-3:], vn, base,
                    )
                else:
                    with pytest.raises(Exception):
                        ctx.execute(f"SELECT k, g, v FROM {vn}")


class TestEngineModelFuzz:
    @pytest.mark.parametrize("seed", [101, 211])
    def test_random_statement_sequences_match_model(self, ctx, seed):
        rng = random.Random(seed)
        model = Model()
        trace = []
        # (name, version) -> frozen expected contents; copy-on-write DML
        # keeps old files until VACUUM, so EVERY recorded version must
        # replay exactly at any later point
        history: dict[tuple[str, int], list] = {}
        for step in range(28):
            trace.append(_step(ctx, model, rng))
            # snapshot the mutated table's (version -> state) pair
            touched = trace[-1].split()[1]
            if touched in model.tables:
                v = _latest_version(ctx, touched)
                history[(touched, v)] = model.expect(touched)
            history = {
                (n, v): s for (n, v), s in history.items() if n in model.tables
            }
            # verify one random live table fully, every step
            name = rng.choice(list(model.tables))
            got = sorted(rows(ctx.execute(f"SELECT k, g, v FROM {name}")))
            want = model.expect(name)
            assert got == want, (seed, step, trace[-3:], name)
            # and one random HISTORICAL version via time travel
            if history and rng.random() < 0.5:
                (hn, hv), hs = rng.choice(list(history.items()))
                got = sorted(
                    rows(
                        ctx.execute(
                            f"SELECT k, g, v FROM {hn} "
                            f"FOR VERSION AS OF {hv}"
                        )
                    )
                )
                assert got == hs, (seed, step, "travel", hn, hv)
        # final sweep: every table matches, and every recorded version
        # still replays
        for name in model.tables:
            got = sorted(rows(ctx.execute(f"SELECT k, g, v FROM {name}")))
            assert got == model.expect(name), (seed, "final", name)
        for (hn, hv), hs in history.items():
            got = sorted(
                rows(
                    ctx.execute(
                        f"SELECT k, g, v FROM {hn} FOR VERSION AS OF {hv}"
                    )
                )
            )
            assert got == hs, (seed, "final-travel", hn, hv)


# --------------------------------------------------------------------------
# Search-index lifecycle fuzz (r10 — the r9 verdict's task #6): CREATE/
# REFRESH/DROP SEARCH INDEX interleaved with INSERT/DELETE/RENAME/CLONE/
# VACUUM. The r9 self-review found 7 lifecycle bugs by hand; this finds
# the next ones mechanically. Invariants after EVERY step:
#   * system.search_indexes lists exactly the model's indexes, and each
#     is_stale flag matches the model (content-based: an index is stale
#     iff a DML that actually CHANGED rows landed since its build —
#     no-match DELETEs and metadata-only commits must not flag it);
#   * a random search_index() lookup never crashes, and every result id
#     is a member of the index's BUILD-TIME snapshot (an index serves
#     its snapshot, never rows it has not indexed).
# --------------------------------------------------------------------------

SI_WORDS = [
    "spark", "merge", "join", "window", "stream", "batch", "filter",
    "vector", "table", "scan", "index", "query", "data", "shuffle",
]


class SiModel:
    def __init__(self):
        # name -> {k: text}; per-table data revision bumps only when a
        # statement changes at least one row (the engine's staleness is
        # file-fingerprint-based and no-match DML touches no files)
        self.tables: dict[str, dict[int, str]] = {}
        self.rev: dict[str, int] = {}
        # table -> index name -> {"method", "built_rev", "visible"}
        self.indexes: dict[str, dict[str, dict]] = {}
        # table -> ids that CURRENTLY have >1 physical row. Drives the
        # index-CREATE rejection assertion — a DELETE whose modulus
        # covers the duplicated key makes the table unique again, and
        # the engine then rightly ACCEPTS a plain CREATE (r12 advisor
        # find: the old sticky bool demanded rejection forever).
        self.dups: dict[str, set[int]] = {}
        # table -> EVER held duplicate ids (sticky). Rebuild downgrades
        # on refresh stay allowed for such tables even after the dups
        # are deleted (the engine may conservatively detect drift).
        self.dups_ever: dict[str, bool] = {}
        self.next_k = 0

    def expected_board(self):
        out = {}
        for tname, idxs in self.indexes.items():
            for iname, st in idxs.items():
                out[(tname, iname)] = st["built_rev"] != self.rev[tname]
        return out


def _si_sentence(rng):
    return " ".join(rng.choice(SI_WORDS) for _ in range(rng.randrange(3, 7)))


def _si_step(ctx, m: SiModel, rng: random.Random) -> str:
    names = list(m.tables)
    roll = rng.random()
    if not names or (roll < 0.08 and len(names) < 3):
        name = f"st{rng.randrange(1000)}"
        while name in m.tables:
            name = f"st{rng.randrange(1000)}"
        ctx.execute(f"CREATE TABLE {name} (k BIGINT, t STRING)")
        m.tables[name] = {}
        m.rev[name] = 0
        m.indexes[name] = {}
        m.dups[name] = set()
        m.dups_ever[name] = False
        return f"create {name}"
    name = rng.choice(names)
    if roll < 0.12 and len(names) > 1:
        ctx.execute(f"DROP TABLE {name}")
        del m.tables[name], m.rev[name], m.indexes[name]
        m.dups.pop(name, None)
        m.dups_ever.pop(name, None)
        return f"drop {name}"
    if roll < 0.38:
        rows_new = []
        for _ in range(rng.randrange(1, 5)):
            k = m.next_k
            m.next_k += 1
            txt = _si_sentence(rng)
            m.tables[name][k] = txt
            rows_new.append((k, txt))
        vals = ", ".join(f"({k}, '{t}')" for k, t in rows_new)
        ctx.execute(f"INSERT INTO {name} VALUES {vals}")
        m.rev[name] += 1  # insert always adds files
        # r12: occasionally duplicate an EXISTING id — dup tables must
        # reject plain index CREATE and may rebuild on refresh
        if m.tables[name] and rng.random() < 0.2:
            dk = rng.choice(sorted(m.tables[name]))
            dtxt = _si_sentence(rng)
            ctx.execute(f"INSERT INTO {name} VALUES ({dk}, '{dtxt}')")
            m.tables[name][dk] = dtxt
            m.dups.setdefault(name, set()).add(dk)
            m.dups_ever[name] = True
            m.rev[name] += 1
            return f"insert {name} x{len(rows_new)} +dup {dk}"
        return f"insert {name} x{len(rows_new)}"
    if roll < 0.46:
        # r11: in-place UPDATE — the epoch-scoped tombstone model keeps
        # the NEXT refresh incremental (asserted in the refresh step)
        mod = rng.randrange(4)
        matched = [k for k in m.tables[name] if k % 4 == mod]
        txt = _si_sentence(rng)
        ctx.execute(f"UPDATE {name} SET t = '{txt}' WHERE k % 4 = {mod}")
        if matched:
            for k in matched:
                m.tables[name][k] = txt
            m.rev[name] += 1
        return f"update {name} %4={mod} ({len(matched)})"
    if roll < 0.52:
        mod = rng.randrange(4)
        matched = [k for k in m.tables[name] if k % 4 == mod]
        ctx.execute(f"DELETE FROM {name} WHERE k % 4 = {mod}")
        # the DELETE removes EVERY physical copy of a matching id — an
        # id that was duplicated and matches the modulus is unique-zero
        # now, not duplicated (r12 advisor find)
        m.dups[name] = {
            k for k in m.dups.get(name, set()) if k % 4 != mod
        }
        if matched:
            for k in matched:
                del m.tables[name][k]
            m.rev[name] += 1
        return f"delete {name} %4={mod} ({len(matched)})"
    if roll < 0.58:
        new = f"st{rng.randrange(1000)}"
        while new in m.tables:
            new = f"st{rng.randrange(1000)}"
        ctx.execute(f"ALTER TABLE {name} RENAME TO {new}")
        m.tables[new] = m.tables.pop(name)
        m.rev[new] = m.rev.pop(name)
        m.indexes[new] = m.indexes.pop(name)
        m.dups[new] = m.dups.pop(name, set())
        m.dups_ever[new] = m.dups_ever.pop(name, False)
        return f"rename {name}->{new}"
    if roll < 0.63 and len(names) < 3:
        new = f"st{rng.randrange(1000)}"
        while new in m.tables:
            new = f"st{rng.randrange(1000)}"
        ctx.execute(f"CREATE TABLE {new} SHALLOW CLONE {name}")
        m.tables[new] = dict(m.tables[name])
        m.rev[new] = 0
        m.indexes[new] = {}  # clones never inherit index specs
        m.dups[new] = set(m.dups.get(name, set()))
        m.dups_ever[new] = m.dups_ever.get(name, False)
        return f"clone {name}->{new}"
    if roll < 0.65:
        ctx.execute(f"VACUUM TABLE {name}")
        # vacuum may GC the superseded files an incremental diff would
        # read — the next refresh is allowed to downgrade to a rebuild
        for st in m.indexes[name].values():
            st["clean"] = False
        return f"vacuum {name}"
    if roll < 0.68:
        # r11: table compaction rewrites files without changing rows.
        # The staleness fingerprint is FILE-set-based, so a real rewrite
        # flips the board stale, and the next refresh must take the
        # metadata-only incremental path (compaction-only diff, advisor
        # find). Whether OPTIMIZE actually rewrites (>1 small file) is
        # an implementation detail, so the model reads the file set
        # around the call; the board/refresh/lookup invariants stay
        # independently asserted.
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        e = ctx.catalog.get_table("default", "public", name)
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        before = {f.path for f in t.snapshot().files}
        ctx.execute(f"OPTIMIZE TABLE {name}")
        after = {f.path for f in t.snapshot().files}
        if before != after:
            m.rev[name] += 1  # file set changed: content fingerprint moved
        return f"optimize {name} ({'rewrote' if before != after else 'noop'})"
    if roll < 0.80:
        iname = f"ix{rng.randrange(100)}"
        method = rng.choice(["BM25", "LSH"])
        if iname in m.indexes[name]:
            return f"noop (index {iname} exists)"
        # r10: sometimes create BM25 indexes in AND-semantics mode — the
        # lookup invariant (results ⊆ build snapshot) holds either way
        extra = (
            ", 'match' = 'all'"
            if method == "BM25" and rng.random() < 0.3
            else ""
        )
        if m.dups.get(name):
            # r12: dup-id tables must reject the plain CREATE with a
            # clear error, and accept the allow_duplicate_ids opt-in
            try:
                ctx.execute(
                    f"CREATE SEARCH INDEX {iname} ON {name} (t) "
                    f"USING {method} WITH ('id_col' = 'k'{extra})"
                )
            except Exception as ex:  # noqa: BLE001
                assert "duplicate or NULL" in str(ex), (name, iname, ex)
            else:
                raise AssertionError(
                    f"dup-id CREATE on {name} must be rejected"
                )
            extra += ", 'allow_duplicate_ids' = 'true'"
        ctx.execute(
            f"CREATE SEARCH INDEX {iname} ON {name} (t) USING {method} "
            f"WITH ('id_col' = 'k'{extra})"
        )
        m.indexes[name][iname] = {
            "method": method,
            "built_rev": m.rev[name],
            "visible": set(m.tables[name]),
            "clean": True,
        }
        return f"index {name}.{iname} {method}{extra and ' all'}"
    if roll < 0.88:
        if not m.indexes[name]:
            return "noop (no index to refresh)"
        iname = rng.choice(sorted(m.indexes[name]))
        st = m.indexes[name][iname]
        was_stale = st["built_rev"] != m.rev[name]
        ctx.execute(f"REFRESH SEARCH INDEX {iname} ON {name}")
        if was_stale and st.get("clean", True) and not m.dups_ever.get(name):
            # r11 invariant: with unique ids and an un-vacuumed history,
            # EVERY row-level DML diff (insert/delete/UPDATE, any mix)
            # refreshes incrementally — the epoch-scoped mask leaves no
            # common shape that forces a rebuild (the fuzz never nears
            # the tombstone cap floor)
            from seafowl_spark.engine.deltalite import DeltaLiteTable

            e = ctx.catalog.get_table("default", "public", name)
            t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
            op = max(t.history(), key=lambda c: c.version).operation
            # an auto-compaction commit may land right after the
            # incremental refresh — both prove the incremental path ran
            assert op in (
                "REFRESH SEARCH INDEX (INCREMENTAL)",
                "OPTIMIZE SEARCH INDEX (AUTO)",
            ), (name, iname, op)
        st["built_rev"] = m.rev[name]
        st["visible"] = set(m.tables[name])
        st["clean"] = True
        return f"refresh {name}.{iname}"
    if roll < 0.94:
        # r10: OPTIMIZE folds the tombstone mask + fragments into the
        # artifact — serving must be unchanged (the step's board and
        # lookup assertions run right after), staleness untouched
        # (metadata commit, file fingerprint identical)
        if not m.indexes[name]:
            return "noop (no index to optimize)"
        iname = rng.choice(sorted(m.indexes[name]))
        ctx.execute(f"OPTIMIZE SEARCH INDEX {iname} ON {name}")
        return f"optimize {name}.{iname}"
    if not m.indexes[name]:
        return "noop (no index to drop)"
    iname = rng.choice(sorted(m.indexes[name]))
    ctx.execute(f"DROP SEARCH INDEX {iname} ON {name}")
    del m.indexes[name][iname]
    return f"dropindex {name}.{iname}"


class TestSearchIndexLifecycleFuzz:
    @pytest.mark.parametrize("seed", [31, 97])
    def test_lifecycle_matches_model(self, ctx, seed):
        rng = random.Random(seed)
        m = SiModel()
        trace = []
        for step in range(26):
            trace.append(_si_step(ctx, m, rng))
            got = {
                (r["table_name"], r["index_name"]): r["is_stale"]
                for r in ctx.execute(
                    "SELECT table_name, index_name, is_stale "
                    "FROM system.search_indexes"
                ).collect()
            }
            assert got == m.expected_board(), (seed, step, trace[-3:])
            # a random lookup must never crash, and must only surface
            # ids the index actually indexed (its build-time snapshot)
            cands = [
                (tn, iname, st)
                for tn, idxs in m.indexes.items()
                for iname, st in idxs.items()
            ]
            if cands:
                tn, iname, st = rng.choice(cands)
                word = rng.choice(SI_WORDS)
                got_ids = {
                    r["result_id"]
                    for r in ctx.execute(
                        f"SELECT result_id FROM "
                        f"search_index('{tn}', '{iname}', '{word}', 5)"
                    ).collect()
                }
                assert got_ids <= st["visible"], (
                    seed, step, tn, iname, got_ids - st["visible"],
                )


# --------------------------------------------------------------------------
# Concurrent writers (r11 — the r10 verdict's task #7). The reference
# commits through delta-rs optimistic concurrency (delta.rs:429-440);
# deltalite's _write_commit claims each version with the store's atomic
# put-if-absent. Three layers here:
#   * deterministic OCC races through the REAL DML path (two handles,
#     one blocked at its put-if-absent while the other commits):
#     snapshot-based DML and appends both must raise
#     ConcurrentCommitError, and a retry on a fresh snapshot must land
#     BOTH effects — conflict detection, never a lost update;
#   * a two-context interleaved fuzz on ONE root (shared sqlite
#     metastore + deltalite logs): after every statement, table
#     contents, matview contents, and the staleness boards — read
#     through EITHER context — must match a serialized replay model.
# --------------------------------------------------------------------------


class _BlockingStore:
    """Store proxy that parks put_if_absent on an event — lets a test
    hold one writer BETWEEN plan time and commit time while the other
    writer commits, the exact window OCC exists for."""

    def __init__(self, inner, reached, release):
        self._inner, self._reached, self._release = inner, reached, release

    def put_if_absent(self, path, data):
        self._reached.set()
        assert self._release.wait(timeout=60)
        return self._inner.put_if_absent(path, data)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TestConcurrentWriters:
    def _seed(self, ctx, name="cw"):
        ctx.execute(f"CREATE TABLE {name} (k BIGINT, v BIGINT)")
        ctx.execute(
            f"INSERT INTO {name} VALUES (1, 10), (2, 20), (3, 30), (4, 40)"
        )
        e = ctx.catalog.get_table("default", "public", name)
        return ctx.table_root(e)

    def _race(self, spark, root, loser_fn, winner_fn):
        """Run loser_fn(t2) with its commit parked while winner_fn(t1)
        commits, then release; returns the exception the loser hit."""
        import threading

        from seafowl_spark.engine.deltalite import DeltaLiteTable

        t1 = DeltaLiteTable(spark, root)
        t2 = DeltaLiteTable(spark, root)
        reached, release = threading.Event(), threading.Event()
        t2.store = _BlockingStore(t2.store, reached, release)
        holder = {}

        def run():
            try:
                loser_fn(t2)
            except Exception as ex:  # noqa: BLE001 — captured for assert
                holder["err"] = ex

        th = threading.Thread(target=run)
        th.start()
        assert reached.wait(timeout=120)  # loser planned, parked at commit
        winner_fn(t1)  # winner claims the version
        release.set()
        th.join(timeout=120)
        assert not th.is_alive()
        return holder.get("err")

    def test_snapshot_dml_conflict_detected_no_lost_update(self, ctx):
        from seafowl_spark.engine.deltalite import (
            ConcurrentCommitError,
            DeltaLiteTable,
        )

        root = self._seed(ctx)
        err = self._race(
            ctx.spark,
            root,
            loser_fn=lambda t: t.delete("k % 2 = 0"),
            winner_fn=lambda t: t.delete("k = 1"),
        )
        assert isinstance(err, ConcurrentCommitError)
        # the winner's delete landed; the loser's did NOT (its removes
        # were computed against a stale snapshot)
        t = DeltaLiteTable(ctx.spark, root)
        ks = {r["k"] for r in t.to_df().collect()}
        assert ks == {2, 3, 4}
        # loser retries on a fresh snapshot: both effects land, nothing
        # lost, versions stay contiguous
        t.delete("k % 2 = 0")
        ks = {r["k"] for r in t.to_df().collect()}
        assert ks == {3}
        vs = t.versions()
        assert vs == list(range(len(vs)))

    def test_append_race_conflicts_then_lands_both(self, ctx):
        from seafowl_spark.engine.deltalite import (
            ConcurrentCommitError,
            DeltaLiteTable,
        )

        root = self._seed(ctx, name="cwa")
        spark = ctx.spark

        def ins(t, k):
            t.append(
                spark.createDataFrame([(k, k * 10)], "k bigint, v bigint")
            )

        err = self._race(
            spark,
            root,
            loser_fn=lambda t: ins(t, 100),
            winner_fn=lambda t: ins(t, 200),
        )
        # an append's target version is latest+1 computed at commit
        # time — the parked writer hit the winner's version, and
        # append() RETRIES transparently (its adds remove nothing, so
        # losing the race never invalidates the work): both rows land,
        # no error surfaces, versions stay contiguous and unique
        assert err is None
        t = DeltaLiteTable(spark, root)
        ks = {r["k"] for r in t.to_df().collect()}
        assert {100, 200} <= ks
        vs = t.versions()
        assert vs == list(range(len(vs)))
        # the RAW commit primitive (no retry loop) does conflict: that
        # is what the append retry is absorbing
        snap_v = t.latest_version()
        t.append(spark.createDataFrame([(300, 0)], "k bigint, v bigint"))
        with pytest.raises(ConcurrentCommitError):
            t._next_commit("INSERT", [], [], base_version=snap_v)

    @pytest.mark.parametrize("seed", [13, 71])
    def test_two_context_interleaved_fuzz(self, spark, tmp_path, seed):
        """Two SeafowlContexts, one root: interleaved DML + index DDL +
        matview refresh. After EVERY statement, contents and the
        staleness boards (read through the OTHER context as often as
        the writer) must match the serialized replay model."""
        from seafowl_spark.engine.context import SeafowlContext

        root = str(tmp_path / "shared")
        ctxs = [SeafowlContext(spark, root), SeafowlContext(spark, root)]
        rng = random.Random(seed)
        c0 = ctxs[0]
        c0.execute("CREATE TABLE ti (k BIGINT, t STRING)")
        c0.execute("CREATE TABLE tb (k BIGINT, g STRING, v BIGINT)")
        c0.execute(
            "CREATE SEARCH INDEX ix ON ti (t) USING BM25 "
            "WITH ('id_col' = 'k')"
        )
        c0.execute(
            "CREATE MATERIALIZED VIEW mv AS "
            "SELECT g, SUM(v) AS s FROM tb GROUP BY g"
        )
        # model: ti rows, tb rows, index rev / built_rev, mv dirty flag
        ti: dict[int, str] = {}
        tb: dict[int, tuple[str, int]] = {}
        mv_snapshot: dict[str, int] = {}
        rev = {"ti": 0, "ix_built": 0}
        mv_dirty = False
        next_k = 0
        for step in range(24):
            ctx = ctxs[rng.randrange(2)]
            other = ctxs[1 - ctxs.index(ctx)]
            roll = rng.random()
            if roll < 0.30:
                k, next_k = next_k, next_k + 1
                word = rng.choice(SI_WORDS)
                ctx.execute(f"INSERT INTO ti VALUES ({k}, '{word} doc')")
                ti[k] = f"{word} doc"
                rev["ti"] += 1
            elif roll < 0.45:
                mod = rng.randrange(3)
                matched = [k for k in ti if k % 3 == mod]
                ctx.execute(f"DELETE FROM ti WHERE k % 3 = {mod}")
                for k in matched:
                    del ti[k]
                if matched:
                    rev["ti"] += 1
            elif roll < 0.60:
                ctx.execute("REFRESH SEARCH INDEX ix ON ti")
                rev["ix_built"] = rev["ti"]
            elif roll < 0.85:
                k, next_k = next_k, next_k + 1
                g = rng.choice(["a", "b"])
                v = rng.randrange(100)
                ctx.execute(f"INSERT INTO tb VALUES ({k}, '{g}', {v})")
                tb[k] = (g, v)
                mv_dirty = True
            else:
                ctx.execute("REFRESH MATERIALIZED VIEW mv")
                mv_snapshot = {}
                for _k, (g, v) in tb.items():
                    mv_snapshot[g] = mv_snapshot.get(g, 0) + v
                mv_dirty = False
            # ---- invariants, read through the OTHER context ----
            got_ti = {
                (r["k"], r["t"])
                for r in other.execute("SELECT * FROM ti").collect()
            }
            assert got_ti == set(ti.items()), (seed, step)
            got_mv = {
                (r["g"], r["s"])
                for r in other.execute("SELECT * FROM mv").collect()
            }
            assert got_mv == set(mv_snapshot.items()), (seed, step)
            board = {
                r["index_name"]: r["is_stale"]
                for r in other.execute(
                    "SELECT index_name, is_stale FROM system.search_indexes"
                ).collect()
            }
            assert board == {"ix": rev["ix_built"] != rev["ti"]}, (
                seed, step,
            )
            mv_board = [
                r["is_stale"]
                for r in other.execute(
                    "SELECT is_stale FROM system.matviews"
                ).collect()
            ]
            assert mv_board == [mv_dirty], (seed, step)


class TestCrossProcessConcurrency:
    """r12 (the r11 verdict's task #5): the refresh/optimize mutex
    (`_append_pending` exclusive create) and the commit protocol
    (put-if-absent) claim CROSS-PROCESS safety but were only raced
    in-process. This spawns a real second (and third) Python process —
    each with its own JVM — against one shared root and asserts the
    invariants the mutex exists for: every worker outcome is either a
    success or a CLEAN in-flight/concurrency error, both inserts land
    (no lost update), versions stay contiguous, and the index serves
    BIT-equal to a from-scratch rebuild (no doubled postings)."""

    def test_two_process_insert_refresh_race(self, ctx, tmp_path):
        import json
        import os
        import subprocess
        import sys
        import time

        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx.execute("CREATE TABLE xd (doc_id BIGINT, text STRING)")
        ctx.execute(
            "INSERT INTO xd VALUES (1, 'spark alpha doc'), "
            "(2, 'stream beta doc'), (3, 'spark gamma doc')"
        )
        ctx.execute(
            "CREATE SEARCH INDEX ix ON xd (text) USING BM25 "
            "WITH ('id_col' = 'doc_id')"
        )
        # make the index stale so both workers' REFRESH has real work
        ctx.execute("INSERT INTO xd VALUES (4, 'spark delta doc')")
        root = ctx.data_dir
        worker = os.path.join(os.path.dirname(__file__), "xproc_worker.py")
        go = str(tmp_path / "go")
        procs, ready = [], []
        for tag in ("a", "b"):
            rf = str(tmp_path / f"ready_{tag}")
            ready.append(rf)
            procs.append(
                subprocess.Popen(
                    [sys.executable, worker, root, tag, go, rf],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL,
                    text=True,
                )
            )
        deadline = time.time() + 180
        while not all(os.path.exists(r) for r in ready):
            assert time.time() < deadline, "workers failed to start"
            assert all(p.poll() is None for p in procs), "worker died early"
            time.sleep(0.05)
        with open(go, "w") as fh:
            fh.write("go")
        outs = []
        for p in procs:
            stdout, _ = p.communicate(timeout=300)
            outs.append(json.loads(stdout.strip().splitlines()[-1]))
        # every worker outcome is a success or a CLEAN documented error
        for o in outs:
            assert "error" not in o, o
            if not o.get("insert_ok"):
                assert "Concurrent" in o.get("insert_err", ""), o
            if not o.get("refresh_ok"):
                assert (
                    "in flight" in o.get("refresh_err", "")
                    or "Concurrent" in o.get("refresh_err", "")
                ), o
        # no lost update: appends retry transparently, BOTH rows landed
        got = {
            r[0]
            for r in ctx.execute("SELECT doc_id FROM xd").collect()
        }
        assert {100, 200} <= got, (got, outs)
        # contiguous versions, exactly one per landed commit
        e = ctx.catalog.get_table("default", "public", "xd")
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        vs = t.versions()
        assert vs == list(range(len(vs))), vs
        # heal any loser-left marker, then serving must be bit-equal to
        # a from-scratch rebuild — the no-doubled-postings proof
        ctx.execute("REFRESH SEARCH INDEX ix ON xd")

        def serve():
            return {
                (r.result_id, r.score, r.rank)
                for r in ctx.execute(
                    "SELECT * FROM search_index('xd', 'ix', 'spark doc', 10)"
                ).collect()
            }

        served = serve()
        assert {100, 200} <= {s[0] for s in served}
        ctx.execute("DROP SEARCH INDEX ix ON xd")
        ctx.execute(
            "CREATE SEARCH INDEX ix ON xd (text) USING BM25 "
            "WITH ('id_col' = 'doc_id')"
        )
        assert served == serve(), "postings diverged from rebuild"

    # ----------------------------------------------------- r13 scenarios
    # (the r12 verdict's task #7): OPTIMIZE SEARCH INDEX, VACUUM and the
    # CDC flush claim the same marker/put-if-absent cross-process safety
    # the INSERT+REFRESH race proved — race them for real too.

    def _race(self, ctx, tmp_path, specs):
        """Spawn one real worker process per (tag, ops) spec against
        ctx's root; returns their JSON outcomes after a synchronized
        go."""
        import json
        import os
        import subprocess
        import sys
        import time

        root = ctx.data_dir
        worker = os.path.join(os.path.dirname(__file__), "xproc_worker.py")
        go = str(tmp_path / "go")
        procs, ready = [], []
        for tag, ops in specs:
            rf = str(tmp_path / f"ready_{tag}")
            ready.append(rf)
            procs.append(
                subprocess.Popen(
                    [sys.executable, worker, root, tag, go, rf, ops],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL,
                    text=True,
                )
            )
        deadline = time.time() + 180
        while not all(os.path.exists(r) for r in ready):
            assert time.time() < deadline, "workers failed to start"
            assert all(p.poll() is None for p in procs), "worker died early"
            time.sleep(0.05)
        with open(go, "w") as fh:
            fh.write("go")
        outs = []
        for p in procs:
            stdout, _ = p.communicate(timeout=300)
            outs.append(json.loads(stdout.strip().splitlines()[-1]))
        for o in outs:
            assert "error" not in o, o
        return outs

    def _assert_serving_matches_rebuild(self, ctx):
        def serve():
            return {
                (r.result_id, r.score, r.rank)
                for r in ctx.execute(
                    "SELECT * FROM search_index('xd', 'ix', 'spark doc', 10)"
                ).collect()
            }

        served = serve()
        ctx.execute("DROP SEARCH INDEX ix ON xd")
        ctx.execute(
            "CREATE SEARCH INDEX ix ON xd (text) USING BM25 "
            "WITH ('id_col' = 'doc_id')"
        )
        assert served == serve(), "postings diverged from rebuild"
        return served

    def test_other_process_commit_seen_by_next_statement(self, ctx, tmp_path):
        """The head-snapshot cache holds this process's last read of
        ``xd``; the next statement after another process's commit still
        reads the new head."""
        ctx.execute("CREATE TABLE xd (doc_id BIGINT, text STRING)")
        ctx.execute("INSERT INTO xd VALUES (1, 'spark alpha doc')")
        assert rows(ctx.execute("SELECT doc_id FROM xd")) == [(1,)]
        (out,) = self._race(ctx, tmp_path, [("a", "insert")])
        assert out["insert_ok"], out
        assert rows(ctx.execute("SELECT doc_id FROM xd")) == [(1,), (100,)]

    def test_two_process_refresh_vs_optimize(self, ctx, tmp_path):
        """One JVM REFRESHes while another OPTIMIZEs the same index:
        both take the `_append_pending` mutex, so each outcome must be
        success or the clean in-flight/concurrency loser error — and
        serving afterwards must be bit-equal to a from-scratch rebuild
        (the mutex exists so compaction can never double or drop
        postings under a concurrent refresh)."""
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx.execute("CREATE TABLE xd (doc_id BIGINT, text STRING)")
        ctx.execute(
            "INSERT INTO xd VALUES (1, 'spark alpha doc'), "
            "(2, 'stream beta doc'), (3, 'spark gamma doc')"
        )
        ctx.execute(
            "CREATE SEARCH INDEX ix ON xd (text) USING BM25 "
            "WITH ('id_col' = 'doc_id')"
        )
        # stale the index AND leave masked garbage for OPTIMIZE: delete
        # one doc, append two more
        ctx.execute("DELETE FROM xd WHERE doc_id = 2")
        ctx.execute(
            "INSERT INTO xd VALUES (4, 'spark delta doc'), "
            "(5, 'spark epsilon doc')"
        )
        outs = self._race(
            ctx, tmp_path, [("a", "refresh"), ("b", "optimize")]
        )
        for o in outs:
            for op in ("refresh", "optimize"):
                if f"{op}_ok" in o and not o[f"{op}_ok"]:
                    err = o.get(f"{op}_err", "")
                    assert "in flight" in err or "Concurrent" in err, o
        # heal any loser marker, then the bit-equality proof
        ctx.execute("REFRESH SEARCH INDEX ix ON xd")
        served = self._assert_serving_matches_rebuild(ctx)
        assert {1, 4, 5} <= {s[0] for s in served}
        assert all(s[0] != 2 for s in served)  # deleted doc stays masked
        e = ctx.catalog.get_table("default", "public", "xd")
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        vs = t.versions()
        assert vs == list(range(len(vs))), vs

    def test_two_process_insert_vs_vacuum(self, ctx, tmp_path):
        """One JVM INSERTs while another VACUUMs the same table: the
        insert must land (appends retry transparently — no lost
        update), the vacuum must succeed or lose cleanly, every
        pre-existing row stays readable (vacuum must never collect a
        file the concurrent commit still references), and versions stay
        contiguous."""
        from seafowl_spark.engine.deltalite import DeltaLiteTable

        ctx.execute("CREATE TABLE xd (doc_id BIGINT, text STRING)")
        ctx.execute(
            "INSERT INTO xd VALUES (1, 'spark alpha doc'), "
            "(2, 'stream beta doc'), (3, 'spark gamma doc')"
        )
        ctx.execute(
            "CREATE SEARCH INDEX ix ON xd (text) USING BM25 "
            "WITH ('id_col' = 'doc_id')"
        )
        # superseded files for VACUUM to collect: update rewrites
        ctx.execute("UPDATE xd SET text = 'spark gamma doc v2' WHERE doc_id = 3")
        outs = self._race(
            ctx, tmp_path, [("a", "insert"), ("b", "vacuum")]
        )
        by_tag = {o["tag"]: o for o in outs}
        # the insert ALWAYS lands (retry-on-conflict is the contract)
        assert by_tag["a"].get("insert_ok"), outs
        if not by_tag["b"].get("vacuum_ok"):
            err = by_tag["b"].get("vacuum_err", "")
            assert "in flight" in err or "Concurrent" in err, outs
        got = {
            r[0]: r[1]
            for r in ctx.execute("SELECT doc_id, text FROM xd").collect()
        }
        assert set(got) == {1, 2, 3, 100}, (got, outs)
        assert got[3] == "spark gamma doc v2"
        e = ctx.catalog.get_table("default", "public", "xd")
        t = DeltaLiteTable(ctx.spark, ctx.table_root(e))
        vs = t.versions()
        assert vs == list(range(len(vs))), vs
        # the index refreshes and serves every survivor
        ctx.execute("REFRESH SEARCH INDEX ix ON xd")
        served = self._assert_serving_matches_rebuild(ctx)
        assert {1, 3, 100} <= {s[0] for s in served}
