"""HTTP frontend tests (reference tests/http/ + http.rs in-module tests):
routes, multi-statement rule, ETag/304 transparent caching, auth, upload."""

import io
import json
import urllib.error
import urllib.request
from hashlib import sha256

import pytest

from seafowl_spark.engine.server import AccessPolicy, SeafowlServer


# default tier: every test here runs in under 20 s (the slowest, the
# search-index ETag refresh, about 13 s; the module about 50 s in all),
# so none carries the `slow` mark.

@pytest.fixture()
def server(ctx):
    srv = SeafowlServer(ctx).start()
    yield srv
    srv.stop()


def _post_q(port, query, token=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/q",
        data=json.dumps({"query": query}).encode(),
        headers={"Content-Type": "application/json"}
        | ({"Authorization": f"Bearer {token}"} if token else {}),
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read().decode(), dict(resp.headers)


def _get_q(port, query, etag=None, token=None):
    h = sha256(query.encode()).hexdigest()
    headers = {"X-Seafowl-Query": urllib.parse.quote(query)}
    if etag:
        headers["If-None-Match"] = etag
    if token:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(f"http://127.0.0.1:{port}/q/{h}", headers=headers)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), dict(e.headers)


import urllib.parse  # noqa: E402


class TestHttp:
    def test_post_multi_statement_jsonlines(self, server):
        code, body, headers = _post_q(
            server.port,
            "CREATE TABLE h (x int, s varchar); "
            "INSERT INTO h VALUES (1, 'a'), (2, 'b'); "
            "SELECT * FROM h ORDER BY x",
        )
        assert code == 200
        lines = [json.loads(l) for l in body.strip().split("\n")]
        assert lines == [{"x": 1, "s": "a"}, {"x": 2, "s": "b"}]
        assert "arrow-schema=" in headers["Content-Type"]
        assert "X-Seafowl-Query-Time" in headers

    def test_post_read_not_last_is_400(self, server):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/q",
            data=json.dumps({"query": "SELECT 1; CREATE TABLE z (x int)"}).encode(),
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400

    def test_get_hash_mismatch_rejected(self, server):
        _post_q(server.port, "CREATE TABLE g (x int)")
        q = "SELECT * FROM g"
        bad_hash = "0" * 64
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/q/{bad_hash}",
            headers={"X-Seafowl-Query": urllib.parse.quote(q)},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400

    def test_get_write_rejected(self, server):
        code, body, _ = _get_q(server.port, "CREATE TABLE w (x int)")
        assert code == 405

    def test_etag_304_cycle(self, server):
        """The signature seafowl behavior: second GET with If-None-Match
        returns 304 without executing; a write invalidates the ETag."""
        _post_q(server.port, "CREATE TABLE e (x int); INSERT INTO e VALUES (1)")
        q = "SELECT * FROM e"
        code, body, headers = _get_q(server.port, q)
        assert code == 200
        assert json.loads(body.strip()) == {"x": 1}
        etag = headers["ETag"]
        assert headers["Cache-Control"] == "max-age=43200, public"

        code2, body2, headers2 = _get_q(server.port, q, etag=etag)
        assert code2 == 304
        assert body2 == ""

        _post_q(server.port, "INSERT INTO e VALUES (2)")
        code3, body3, headers3 = _get_q(server.port, q, etag=etag)
        assert code3 == 200
        assert headers3["ETag"] != etag
        assert len(body3.strip().split("\n")) == 2

    def test_etag_search_index_refresh_invalidates(self, server):
        """r10 (the r9 verdict's task #7): a GET routed through
        search_index() mixes the INDEX's identity (built_version +
        artifact fingerprint) into the ETag — REFRESH SEARCH INDEX must
        flip a cached 304 to 200 even though the query's table data is
        untouched between the two GETs."""
        _post_q(
            server.port,
            "CREATE TABLE sd (doc_id BIGINT, text STRING); "
            "INSERT INTO sd VALUES (1, 'spark merge join'), "
            "(2, 'stream batch filter')",
        )
        _post_q(server.port, "CREATE SEARCH INDEX idx ON sd (text) USING BM25")
        q = "SELECT result_id FROM search_index('sd', 'idx', 'spark', 2)"
        code, body, headers = _get_q(server.port, q)
        assert code == 200
        etag = headers["ETag"]
        code2, _, _ = _get_q(server.port, q, etag=etag)
        assert code2 == 304
        # stale the index, then REFRESH; between the 304 above and the
        # GET below no statement touches sd's data — only the index
        _post_q(server.port, "INSERT INTO sd VALUES (3, 'spark vector scan')")
        code3, _, headers3 = _get_q(server.port, q, etag=etag)
        assert code3 == 200  # the INSERT already invalidated
        etag3 = headers3["ETag"]
        code4, _, _ = _get_q(server.port, q, etag=etag3)
        assert code4 == 304
        _post_q(server.port, "REFRESH SEARCH INDEX idx ON sd")
        code5, body5, headers5 = _get_q(server.port, q, etag=etag3)
        assert code5 == 200  # refresh flipped the cached entry
        assert headers5["ETag"] != etag3
        assert "3" in body5  # and the refreshed index serves doc 3

    def test_auth_policies(self, ctx):
        token = "secret-token"
        policy = AccessPolicy(read="any", write=sha256(token.encode()).hexdigest())
        srv = SeafowlServer(ctx, policy=policy).start()
        try:
            # write without token -> 403
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/q",
                data=json.dumps({"query": "CREATE TABLE a1 (x int)"}).encode(),
            )
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(req)
            assert e.value.code == 403
            # write with token -> ok
            code, _, _ = _post_q(srv.port, "CREATE TABLE a1 (x int)", token=token)
            assert code == 200
            # read without token still fine (read=any)
            code, body, _ = _post_q(srv.port, "SELECT count(*) AS n FROM a1")
            assert code == 200
        finally:
            srv.stop()

    def test_upload_csv_creates_and_appends(self, server):
        boundary = "XBOUNDARYX"
        csv_payload = "a,b\n1,x\n2,y\n"
        body = (
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="file"; filename="data.csv"\r\n'
            f"Content-Type: text/csv\r\n\r\n"
            f"{csv_payload}\r\n"
            f"--{boundary}--\r\n"
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/upload/public/uploaded",
            data=body,
            headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        code, out, _ = _post_q(server.port, "SELECT count(*) AS n FROM uploaded")
        assert json.loads(out.strip()) == {"n": 2}
        # second upload appends
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        code, out, _ = _post_q(server.port, "SELECT count(*) AS n FROM uploaded")
        assert json.loads(out.strip()) == {"n": 4}

    def test_healthz(self, server):
        """Both health spellings, reference frontend/http.rs:637-638."""
        for route in ("healthz", "readyz"):
            with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/{route}") as r:
                assert r.status == 200
                assert r.read() == b"ready"


class TestMetrics:
    """/metrics counts every executed statement and every failed one the
    same way on POST and GET; a 304 counts only as a cache hit."""

    @staticmethod
    def _counters(port):
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            text = r.read().decode()
        return {
            name[len("seafowl_"):]: float(value)
            for name, value in (
                line.split() for line in text.splitlines() if not line.startswith("#")
            )
        }

    def _delta(self, port, fn):
        before = self._counters(port)
        fn()
        after = self._counters(port)
        return {k: after[k] - before[k] for k in after if after[k] != before[k]}

    def test_post_and_get_counted_alike(self, server):
        port = server.port
        write = self._delta(port, lambda: _post_q(port, "CREATE TABLE m (x int)"))
        assert set(write) == {"queries_total", "query_seconds_total"}
        assert write["queries_total"] == 1 and write["query_seconds_total"] > 0

        read = self._delta(port, lambda: _post_q(port, "SELECT * FROM m"))
        assert set(read) == {"queries_total", "query_seconds_total"}
        assert read["queries_total"] == 1

        q = "SELECT x FROM m"
        got = {}
        ok = self._delta(port, lambda: got.update(r=_get_q(port, q)))
        assert got["r"][0] == 200
        assert set(ok) == {"queries_total", "query_seconds_total"}
        assert ok["queries_total"] == 1 and ok["query_seconds_total"] > 0

        etag = got["r"][2]["ETag"]
        hit = self._delta(port, lambda: got.update(r=_get_q(port, q, etag=etag)))
        assert got["r"][0] == 304
        assert hit == {"cache_hits_total": 1}

        bad = self._delta(port, lambda: got.update(r=_get_q(port, "SELECT nope FROM m")))
        assert got["r"][0] == 400
        assert bad == {"query_errors_total": 1}


class TestUploadLimit:
    def test_oversized_upload_rejected(self, ctx):
        """upload_data_max_length (reference schema.rs:251): a body over
        the limit gets 413 before any parsing."""
        from seafowl_spark.engine.server import SeafowlServer

        srv = SeafowlServer(ctx, port=0, upload_max_mb=0).start()
        try:
            boundary = "XBOUNDARYX"
            body = (
                f"--{boundary}\r\n"
                f'Content-Disposition: form-data; name="file"; filename="d.csv"\r\n'
                f"\r\na,b\n1,2\n\r\n--{boundary}--\r\n"
            ).encode()
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/upload/public/too_big",
                data=body,
                headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
            )
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(req)
            assert e.value.code == 413
        finally:
            srv.stop()


class TestDbPrefixedRoutes:
    def test_query_against_prefixed_database(self, ctx):
        """Reference serves `{database}/q` (frontend/http.rs:566-631):
        the URL prefix selects the database for that request only."""
        from seafowl_spark.engine.server import SeafowlServer

        srv = SeafowlServer(ctx, port=0).start()
        try:
            code, _, _ = _post_q(srv.port, "CREATE DATABASE dbp")
            assert code == 200
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/dbp/q",
                data=json.dumps(
                    {"query": "CREATE TABLE pt (x int); INSERT INTO pt VALUES (7); "
                              "SELECT x FROM pt"}
                ).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 200
                assert json.loads(resp.read().strip()) == {"x": 7}
            # the default database does NOT see the prefixed table
            with pytest.raises(urllib.error.HTTPError) as e400:
                _post_q(srv.port, "SELECT x FROM pt")
            assert e400.value.code == 400
            # unknown database -> 404
            req2 = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/nope/q",
                data=json.dumps({"query": "SELECT 1"}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(req2)
            assert e.value.code == 404
        finally:
            srv.stop()


class TestCors:
    def test_preflight_and_origin_echo(self, server):
        """Lax CORS (reference http.rs:518-526 + its test_cors): preflight
        OPTIONS answers the allowed methods/headers; real responses echo
        the Origin with Vary: Origin."""
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/q/{'0' * 64}",
            method="OPTIONS",
            headers={
                "Origin": "https://example.org",
                "Access-Control-Request-Method": "GET",
                "Access-Control-Request-Headers": "x-seafowl-query",
            },
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            assert r.headers["Access-Control-Allow-Origin"] == "https://example.org"
            assert r.headers["Access-Control-Allow-Methods"] == "GET, POST"
            assert "X-Seafowl-Query" in r.headers["Access-Control-Allow-Headers"]
            assert r.headers["Access-Control-Max-Age"] == "86400"
        # a real POST with an Origin echoes it back
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/q",
            data=json.dumps({"query": "SELECT 1 AS one"}).encode(),
            headers={"Content-Type": "application/json", "Origin": "https://example.org"},
        )
        with urllib.request.urlopen(req2) as r:
            assert r.status == 200
            assert r.headers["Access-Control-Allow-Origin"] == "https://example.org"
            assert "Origin" in r.headers.get_all("Vary", [""])[-1]


class TestNewStatementsOverHttp:
    def test_restore_and_introspection_round_trip(self, server):
        """The r7 statements ride the same POST /q dispatch: a RESTORE
        undoes a delete over HTTP, and SHOW CREATE / DESCRIBE DETAIL
        return their rows as JSON lines."""
        code, _b, _h = _post_q(
            server.port,
            "CREATE TABLE hr (k bigint); INSERT INTO hr VALUES (1), (2); "
            "SELECT count(*) AS n FROM hr",
        )
        assert code == 200
        code, _b, _h = _post_q(server.port, "DELETE FROM hr WHERE k = 1")
        assert code == 200
        code, body, _h = _post_q(
            server.port,
            "RESTORE TABLE hr TO VERSION AS OF 1; "  # CREATE=0, INSERT=1
            "SELECT count(*) AS n FROM hr",
        )
        assert code == 200
        assert json.loads(body.strip().split("\n")[-1])["n"] == 2
        code, body, _h = _post_q(server.port, "SHOW CREATE TABLE hr")
        assert code == 200 and "CREATE TABLE" in body and "k BIGINT" in body
        code, body, _h = _post_q(server.port, "DESCRIBE DETAIL hr")
        assert code == 200
        row = json.loads(body.strip().split("\n")[0])
        assert row["format"] == "deltalite" and row["num_rows"] == 2


class TestSearchIndexOverHttp:
    def test_index_ddl_and_lookup_round_trip(self, server):
        """r9: SEARCH INDEX DDL + the search_index() relation ride the
        same POST /q dispatch as every other statement."""
        code, _b, _h = _post_q(
            server.port,
            "CREATE TABLE hd (doc_id bigint, text string); "
            "INSERT INTO hd VALUES (1, 'spark engine tests'), "
            "(2, 'http index lookup'); "
            "CREATE SEARCH INDEX hi ON hd (text) USING BM25; "
            "SELECT count(*) AS n FROM hd",
        )
        assert code == 200
        code, body, _h = _post_q(
            server.port,
            "SELECT result_id FROM search_index('hd', 'hi', 'lookup', 1)",
        )
        assert code == 200
        assert json.loads(body.strip().split("\n")[0])["result_id"] == 2
        code, body, _h = _post_q(
            server.port,
            "SELECT index_name, is_stale FROM system.search_indexes",
        )
        assert code == 200
        row = json.loads(body.strip().split("\n")[0])
        assert row["index_name"] == "hi" and row["is_stale"] is False


class TestErrorParity:
    """HTTP error behavior parity with the reference's frontend unit
    tests (src/frontend/http.rs:1131-1215): every client-side failure —
    parse error, malformed CREATE FUNCTION, missing table, runtime
    execution error — is a 400 whose body names the actual problem
    (message WORDING is ours; status and substance are the contract)."""

    @staticmethod
    def _post(port, query):
        import urllib.error

        try:
            return _post_q(port, query)
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode(), dict(e.headers)

    def test_parse_error_400(self, server):
        code, body, _ = self._post(server.port, "SLEECT 1")
        assert code == 400
        assert "SLEECT" in body or "statement" in body.lower()

    def test_create_function_missing_as_400(self, server):
        code, body, _ = self._post(server.port, "CREATE FUNCTION what_function")
        assert code == 400

    def test_missing_table_names_table_400(self, server):
        code, body, _ = self._post(server.port, "SELECT * FROM missing_table")
        assert code == 400
        assert "missing_table" in body

    def test_execution_error_400(self, server):
        # reference test_error_execution uses a runtime failure; ANSI
        # mode makes division by zero one
        code, body, _ = self._post(server.port, "SELECT 1/0 AS boom")
        assert code == 400

    def test_cached_get_bad_encoding_400(self, server):
        """http.rs:1041-1055: an undecodable percent-encoded query header
        is a 400, not a 500."""
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/q/{'0' * 64}",
            headers={"X-Seafowl-Query": "%zz%%%"},
        )
        try:
            with urllib.request.urlopen(req) as resp:
                code, body = resp.status, resp.read().decode()
        except urllib.error.HTTPError as e:
            code, body = e.code, e.read().decode()
        assert code == 400


class TestHttpMatViewClone:
    def test_matview_and_clone_over_http(self, server):
        """The r8 statements work through the HTTP frontend verbatim:
        multi-statement POST creates base + view, refresh + read round-trip,
        shallow clone readable."""
        port = server.port
        status, _, _ = _post_q(
            port,
            "CREATE TABLE hb (g TEXT, v BIGINT); "
            "INSERT INTO hb VALUES ('a', 1), ('a', 2), ('b', 3); "
            "CREATE MATERIALIZED VIEW hmv AS "
            "SELECT g, SUM(v) AS s FROM hb GROUP BY g",
        )
        assert status == 200
        status, body, _ = _post_q(
            port,
            "INSERT INTO hb VALUES ('b', 10); "
            "REFRESH MATERIALIZED VIEW hmv; "
            "SELECT g, s FROM hmv ORDER BY g",
        )
        assert status == 200
        lines = [json.loads(ln) for ln in body.strip().splitlines()]
        assert lines == [{"g": "a", "s": 3}, {"g": "b", "s": 13}]
        status, body, _ = _post_q(
            port,
            "CREATE TABLE hclone SHALLOW CLONE hb; "
            "SELECT count(*) AS n FROM hclone",
        )
        assert status == 200
        assert json.loads(body.strip().splitlines()[-1]) == {"n": 4}
        # logical view (r8 session D): create + read + drop, no refresh —
        # the base INSERT below is visible immediately
        status, body, _ = _post_q(
            port,
            "CREATE VIEW hv AS SELECT g, COUNT(*) AS n FROM hb GROUP BY g; "
            "INSERT INTO hb VALUES ('c', 9); "
            "SELECT g, n FROM hv ORDER BY g",
        )
        assert status == 200
        lines = [json.loads(ln) for ln in body.strip().splitlines()]
        assert lines == [
            {"g": "a", "n": 2}, {"g": "b", "n": 2}, {"g": "c", "n": 1},
        ]
        status, _, _ = _post_q(port, "DROP VIEW hv")
        assert status == 200


class TestETagFollowsReads:
    """The ETag covers what the statement reads, not the names its text
    spells: a cached GET revalidates to 200 with the new rows whenever a
    relation it reads through a view, a quoted name, a catalog frame or a
    function changed."""

    def _cycle(self, port, setup, query, write):
        """GET, revalidate (304), ``write``, revalidate again: returns the
        last GET's status and rows."""
        _post_q(port, setup)
        code, body, headers = _get_q(port, query)
        assert code == 200, body
        etag = headers["ETag"]
        assert _get_q(port, query, etag=etag)[0] == 304
        _post_q(port, write)
        code, body, headers = _get_q(port, query, etag=etag)
        assert headers.get("ETag") != etag
        return code, [json.loads(line) for line in body.strip().split("\n") if line]

    def test_write_to_view_base_table(self, server):
        code, got = self._cycle(
            server.port,
            "CREATE TABLE vb (x int); INSERT INTO vb VALUES (1); "
            "CREATE VIEW vv AS SELECT x FROM vb",
            "SELECT count(*) AS n FROM vv",
            "INSERT INTO vb VALUES (2)",
        )
        assert (code, got) == (200, [{"n": 2}])

    def test_write_under_view_over_view(self, server):
        code, got = self._cycle(
            server.port,
            "CREATE TABLE vb (x int); INSERT INTO vb VALUES (1); "
            "CREATE VIEW v1 AS SELECT x FROM vb; "
            "CREATE VIEW v2 AS SELECT x FROM v1",
            "SELECT count(*) AS n FROM v2",
            "INSERT INTO vb VALUES (2)",
        )
        assert (code, got) == (200, [{"n": 2}])

    def test_write_to_quoted_name(self, server):
        code, got = self._cycle(
            server.port,
            'CREATE TABLE "a+b" (x int); INSERT INTO "a+b" VALUES (1)',
            'SELECT count(*) AS n FROM "a+b"',
            'INSERT INTO "a+b" VALUES (2)',
        )
        assert (code, got) == (200, [{"n": 2}])

    def test_system_table_versions_after_insert(self, server):
        code, got = self._cycle(
            server.port,
            "CREATE TABLE sv (x int)",
            "SELECT count(*) AS n FROM system.table_versions",
            "INSERT INTO sv VALUES (1)",
        )
        assert (code, got) == (200, [{"n": 2}])

    def test_information_schema_after_create_table(self, server):
        code, got = self._cycle(
            server.port,
            "CREATE TABLE i1 (x int)",
            "SELECT count(*) AS n FROM information_schema.tables",
            "CREATE TABLE i2 (x int)",
        )
        assert (code, got) == (200, [{"n": 2}])

    def test_create_or_replace_function(self, server):
        import base64

        def spec(k):
            source = f"def f(x):\n    return x * {k}\n"
            return json.dumps({
                "entrypoint": "f",
                "language": "python",
                "input_types": ["bigint"],
                "return_type": "bigint",
                "data": base64.b64encode(source.encode()).decode(),
                "volatility": "immutable",
            })

        code, got = self._cycle(
            server.port,
            f"CREATE FUNCTION dbl AS '{spec(2)}'",
            "SELECT dbl(2) AS r",
            f"CREATE OR REPLACE FUNCTION dbl AS '{spec(3)}'",
        )
        assert (code, got) == (200, [{"r": 6}])

    def test_string_literal_is_not_a_read(self, server):
        """A literal spelled like a table reads nothing: a write to that
        table keeps the query's ETag, so its cached GET stays a 304."""
        _post_q(
            server.port,
            "CREATE TABLE la (x int, name varchar); CREATE TABLE lb (x int); "
            "INSERT INTO la VALUES (1, 'lb'), (2, 'it''s lb')",
        )
        q = "SELECT x FROM la WHERE name = 'lb' OR name = 'it''s lb'"
        code, body, headers = _get_q(server.port, q)
        assert code == 200, body
        etag = headers["ETag"]
        _post_q(server.port, "INSERT INTO lb VALUES (1)")
        code, _, headers = _get_q(server.port, q, etag=etag)
        assert (code, headers.get("ETag")) == (304, etag)

    def test_search_index_read_follows_its_table(self, server):
        """The table a search_index() call names as a literal is still a
        read: a write to it moves the ETag."""
        code, got = self._cycle(
            server.port,
            "CREATE TABLE st (doc_id BIGINT, text STRING); "
            "INSERT INTO st VALUES (1, 'spark merge'), (2, 'batch filter'); "
            "CREATE SEARCH INDEX si ON st (text) USING BM25",
            "SELECT count(*) AS n FROM search_index('st', 'si', 'spark', 5)",
            "INSERT INTO st VALUES (3, 'spark scan')",
        )
        assert code == 200

    def test_get_with_regex_metacharacter_table(self, server):
        _post_q(
            server.port,
            'CREATE TABLE "a(b" (x int); CREATE TABLE g (x int); '
            "INSERT INTO g VALUES (1)",
        )
        code, body, _ = _get_q(server.port, "SELECT x FROM g")
        assert code == 200, body
        assert json.loads(body) == {"x": 1}
