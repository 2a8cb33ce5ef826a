"""App-layer tests (A1-A6 composition semantics)."""

from __future__ import annotations

import datetime
import math

from pyspark.sql import types as T

from ballcone_spark.app import Ballcone, days_before, json_value
from ballcone_spark.schema import ENTRY_SCHEMA
from tests.conftest import DAY1, DAY2, GOLDEN_ENTRIES


def _close(got, want) -> bool:
    """Structural equality, floats to 1e-9 relative."""
    if isinstance(want, float) and isinstance(got, float):
        return math.isclose(got, want, rel_tol=1e-9)
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            _close(got[k], want[k]) for k in want
        )
    if isinstance(want, (list, tuple)):
        return (
            isinstance(got, (list, tuple))
            and len(got) == len(want)
            and all(_close(g, w) for g, w in zip(got, want))
        )
    return got == want and type(got) is type(want)


def test_days_before():
    start, stop = days_before(datetime.date(2020, 1, 10), days=7)
    assert start == datetime.date(2020, 1, 4)
    assert stop == datetime.date(2020, 1, 10)


def test_json_value():
    assert json_value(datetime.date(2020, 1, 1)) == "2020-01-01"
    assert json_value(5) == 5
    assert json_value("x") == "x"


def test_dashboard(seeded_dao):
    app = Ballcone(seeded_dao)
    seeded_dao.batch_insert_into("second", GOLDEN_ENTRIES[:1])
    board = app.dashboard(day=DAY2)
    # 'test' has 1 unique ip on day2; 'second' none that day → 0
    assert board == [
        {"service": "test", "unique": 1},
        {"service": "second", "unique": 0},
    ]


def _entry(ts: str, path: str, ip: str, browser, gen_time) -> dict:
    return {
        **GOLDEN_ENTRIES[0],
        "datetime": datetime.datetime.fromisoformat(ts),
        "path": path,
        "ip": ip,
        "browser_name": browser,
        "generation_time": gen_time,
    }


#: Three days of one service. 2020-03-01: with limit 2, /b, /c and /d
#: tie at the boundary (/b wins on group asc) and so do Chrome, Safari
#: and NULL (Chrome wins, NULL sorts last). 2020-03-02: every
#: generation_time is NULL (written below). 2020-03-03: NULL is the top
#: browser.
PAGE_ENTRIES = [
    _entry("2020-03-01 00:00:00", "/a", "10.0.0.1", "Firefox", 0.1),
    _entry("2020-03-01 01:00:00", "/a", "10.0.0.2", "Firefox", 0.2),
    _entry("2020-03-01 02:00:00", "/d", "10.0.0.1", None, 0.3),
    _entry("2020-03-01 03:00:00", "/c", "10.0.0.3", "Chrome", 0.7),
    _entry("2020-03-01 04:00:00", "/b", "10.0.0.3", "Safari", 1e-3),
    _entry("2020-03-03 00:00:00", "/", "10.0.0.4", None, 2.5),
    _entry("2020-03-03 01:00:00", "/", "10.0.0.4", None, 1 / 3),
    _entry("2020-03-03 02:00:00", "/x", "10.0.0.5", "Opera", 0.0),
]
PAGE_NULL_TIME = [
    _entry("2020-03-02 00:00:00", "/a", "10.0.0.1", "Firefox", None),
    _entry("2020-03-02 01:00:00", "/b", "10.0.0.6", None, None),
]


def _append_nullable(dao, service: str, entries: list[dict]) -> None:
    """Append rows with a NULL in a NOT NULL column, as a foreign writer
    could leave them (``batch_insert_into`` enforces the schema)."""
    from pyspark.sql import functions as F

    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in ENTRY_SCHEMA.fields]
    )
    (
        dao.spark.createDataFrame(entries, schema=schema)
        .withColumn("service", F.lit(service))
        .withColumn("date", F.to_date("datetime"))
        .write.mode("append")
        .partitionBy("service", "date")
        .parquet(dao._data_dir)
    )


def _dao_panels(dao, service: str, start, stop, limit: int) -> dict:
    """The service page's panels from the DAO's own single-panel calls."""
    visits = dao.select_count(service, field=None, start=start, stop=stop)
    unique = dao.select_count(service, field="ip", start=start, stop=stop)
    assert [e.date for e in visits.elements] == [e.date for e in unique.elements]

    def top(group):
        res = dao.select_count_group(
            service, field="ip", group=group, start=start, stop=stop,
            ascending=False, limit=limit,
        )
        return [
            {"date": e.date.isoformat(), "group": e.group, "count": e.count}
            for e in res.elements
        ]

    return {
        "overview": {
            v.date.isoformat(): {"visits": v.count, "unique": u.count}
            for v, u in zip(visits.elements, unique.elements)
        },
        "time": dao.select_average(service, "generation_time", start, stop),
        "paths": top("path"),
        "browsers": top("browser_name"),
    }


def test_service_page_equals_dao_panels(dao):
    """Every panel of the one-plan service page equals the DAO's own
    answer for it, on ties at the top-N boundary, a NULL group, a day
    whose generation_time is all NULL and an empty window."""
    dao.batch_insert_into("page", PAGE_ENTRIES)
    _append_nullable(dao, "page", PAGE_NULL_TIME)
    app = Ballcone(dao, top_limit=2)
    stop = datetime.date(2020, 3, 3)
    start, _ = days_before(stop, 7)

    page = app.service_page("page", days=7, stop=stop)
    want = _dao_panels(dao, "page", start, stop, limit=2)
    assert _close(page, want), (page, want)
    # the fixture exercises what it claims to
    assert [p["group"] for p in page["paths"][:2]] == ["/a", "/b"]
    assert [b["group"] for b in page["browsers"][:2]] == ["Firefox", "Chrome"]
    assert page["browsers"][-2]["group"] is None  # top browser on 03-03
    null_day = page["time"].elements[1]
    assert (null_day.avg, null_day.sum, null_day.count) == (None, 0.0, 0)
    # the old entry points are projections of the page
    assert app.overview("page", days=7, stop=stop) == page["overview"]
    assert app.top_paths("page", days=7, stop=stop) == page["paths"]
    assert app.top_browsers("page", days=7, stop=stop) == page["browsers"]

    empty_stop = datetime.date(2020, 2, 1)
    empty = app.service_page("page", days=3, stop=empty_stop)
    assert empty["overview"] == {} and empty["paths"] == empty["browsers"] == []
    assert _close(empty, _dao_panels(dao, "page", *days_before(empty_stop, 3), 2))


def test_overview_single_pass(seeded_dao):
    app = Ballcone(seeded_dao)
    ov = app.overview("test", days=7, stop=DAY2)
    assert ov == {
        "2020-01-01": {"visits": 2, "unique": 1},
        "2020-01-02": {"visits": 2, "unique": 1},
    }


def test_top_paths_web_defaults(seeded_dao):
    app = Ballcone(seeded_dao, top_limit=1)
    top = app.top_paths("test", days=7, stop=DAY2)
    # per day, top path by distinct-ip... field=ip distinct=False counts
    # rows of ip per (day, path); ties break by group asc → "/"
    assert [t["group"] for t in top] == ["/", "/"]
    assert [t["date"] for t in top] == ["2020-01-01", "2020-01-02"]


def test_sql_console_envelope(seeded_dao):
    app = Ballcone(seeded_dao)
    ok = app.sql("SELECT service, count(*) AS n FROM access_log GROUP BY service")
    assert ok["columns"] == ["service", "n"]
    assert ok["rows"] == [["test", 4]]
    bad = app.sql("SELECT nope FROM access_log")
    assert "error" in bad and "nope" in bad["error"]


def test_size_ttl_cache(seeded_dao):
    app = Ballcone(seeded_dao)
    s1 = app.size()
    assert s1 > 0
    seeded_dao.batch_insert_into("more", GOLDEN_ENTRIES)
    assert app.size() == s1  # cached
    app._size_ttl = 0
    assert app.size() > s1  # expired → recomputed


def test_console_dialect_shims(seeded_dao):
    """The reference console's default query and its catalog queries run
    VERBATIM: pragma_database_size() (web_ballcone.py:134), the size
    probe (dao.py:147-148), and sqlite_master table listing
    (dao.py:150-160)."""
    app = Ballcone(seeded_dao)
    out = app.sql("SELECT * FROM pragma_database_size();")
    assert "error" not in out
    assert out["columns"] == ["database_size", "block_size", "total_blocks"]
    assert out["rows"][0][0] == seeded_dao.size() > 0

    out = app.sql(
        "SELECT COALESCE(total_blocks * block_size, 0) AS sz"
        " FROM pragma_database_size()"
    )
    assert out["rows"][0][0] >= seeded_dao.size()

    out = app.sql(
        "SELECT DISTINCT name FROM sqlite_master"
        " WHERE type = 'table' ORDER BY name"
    )
    assert [r[0] for r in out["rows"]] == seeded_dao.tables()


def test_service_view_cannot_clobber_dataset_views(seeded_dao):
    """ADVICE r2 namespace guard: a syslog-supplied service named after
    an analytics dataset view ('events', 'lineitem', ...) or a catalog
    shim must NOT shadow it — and the query layer's view-registration
    cache must be invalidated for anything register_views rebinds, so a
    later analytics build re-asserts its own binding."""
    import ballcone_spark.queries as q
    from ballcone_spark.queries import load_table

    spark = seeded_dao.spark
    sf = "/root/testdata/sf0.001"
    # analytics surface binds `events` (and caches the registration)
    q._register_views(spark, sf, ["events"])
    expected = load_table(spark, sf, "events").count()

    # a hostile-but-valid service name arrives and views are rebuilt
    seeded_dao.batch_insert_into("events", GOLDEN_ENTRIES[:1])
    seeded_dao.batch_insert_into("mysite", GOLDEN_ENTRIES)
    seeded_dao.register_views()

    # the dataset view survives; the service is still reachable through
    # the unified table (the documented path for reserved names)
    assert spark.table("events").count() == expected
    n = spark.sql(
        "SELECT count(*) AS n FROM access_log WHERE service = 'events'"
    ).collect()[0]["n"]
    assert n == 1
    # and a normal service name IS addressable verbatim
    assert spark.sql("SELECT count(*) AS n FROM mysite").collect()[0]["n"] == 4

    # cache invalidation: register_views popped its rebound names, so a
    # fresh analytics build re-registers instead of trusting a stale entry
    app_id = spark.sparkContext.applicationId
    assert (app_id, "mysite") not in q._VIEWS_REGISTERED


def test_service_view_cannot_shadow_catalog_tables(seeded_dao):
    """ADVICE r3: temp views win name resolution over session-catalog
    tables, so a valid service named like a bucketized table
    (bkt_*) — or any persistent catalog table — must not get a view;
    otherwise bucketed-join queries silently read service data."""
    from ballcone_spark.plans.bucketing import ensure_bucketed

    spark = seeded_dao.spark
    bkt = ensure_bucketed(
        spark, "/root/testdata/sf0.001", "orders", ["o_orderkey"], 4
    )
    n_orders = spark.table(bkt).count()

    # hostile-but-valid service names: the bucketized table itself and
    # an unrelated bkt_-prefixed name
    seeded_dao.batch_insert_into(bkt, GOLDEN_ENTRIES[:2])
    seeded_dao.batch_insert_into("bkt_other", GOLDEN_ENTRIES[:1])
    seeded_dao.register_views()

    # the catalog table still resolves to orders data, not service rows
    assert spark.table(bkt).count() == n_orders
    assert "o_orderkey" in spark.table(bkt).columns
    # both services remain reachable through the unified fact table
    for svc, expect in [(bkt, 2), ("bkt_other", 1)]:
        n = spark.sql(
            f"SELECT count(*) AS n FROM access_log WHERE service = '{svc}'"
        ).collect()[0]["n"]
        assert n == expect
    # idempotency: a second register_views still rebinds normal services
    seeded_dao.register_views()
    assert spark.table(bkt).count() == n_orders


# --------------------------------------------------------------------- #
# thin HTTP front (r4): reference routes over the app handlers          #
# --------------------------------------------------------------------- #


def _get(port, path, expect_status=200):
    import json as _json
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}", timeout=60
        ) as resp:
            return resp.status, _json.loads(resp.read() or b"null")
    except urllib.error.HTTPError as e:
        return e.code, _json.loads(e.read() or b"null")


def test_http_front_routes(seeded_dao):
    """e2e over real sockets: every reference route
    (reference __main__.py:60-98) answers with the same envelope the
    underlying (already-golden-tested) app handler produces."""
    import json as _json
    import urllib.request

    from ballcone_spark.app import Ballcone
    from ballcone_spark.web import BallconeHTTPServer, encode

    app = Ballcone(seeded_dao)
    srv = BallconeHTTPServer(app).start()
    try:
        port = srv.port
        win = "days=7&stop=2020-01-02"

        # root: dashboard for a pinned day
        st, root = _get(port, "/?day=2020-01-02")
        assert st == 200
        assert root["services"] == ["test"]
        assert root["dashboard"] == [["test", 1]]  # 1 unique ip on day 2
        assert root["size"] > 0

        # /services redirects to /
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/services", method="GET"
        )
        import urllib.error

        try:
            urllib.request.urlopen(req, timeout=60)
            redirected = True  # urllib follows the 302 to /
        except urllib.error.HTTPError:
            redirected = False
        assert redirected

        # per-service page: every panel equals the DAO's own answer
        st, svc = _get(port, f"/services/test?{win}")
        assert st == 200
        want = _dao_panels(
            seeded_dao, "test", datetime.date(2019, 12, 27),
            datetime.date(2020, 1, 2), limit=app.top_limit,
        )
        assert _close(
            {k: svc[k] for k in want}, encode(want)
        ), (svc, want)
        assert svc["browsers"] and svc["time"]["elements"]

        # API envelopes: average / count / count_group match the DAO
        st, avg = _get(port, f"/services/test/average/generation_time?{win}")
        assert st == 200
        assert avg == encode(
            seeded_dao.select_average(
                "test", "generation_time",
                datetime.date(2019, 12, 27), datetime.date(2020, 1, 2),
            )
        )
        st, cnt = _get(port, f"/services/test/count/ip?{win}")
        assert cnt == encode(
            seeded_dao.select_count(
                "test", field="ip",
                start=datetime.date(2019, 12, 27),
                stop=datetime.date(2020, 1, 2),
            )
        )
        st, grp = _get(
            port,
            f"/services/test/count_group/path?distinct=ip&limit=5&{win}",
        )
        assert grp == encode(
            seeded_dao.select_count_group(
                "test", field="ip", group="path", distinct=True,
                ascending=False, limit=5,
                start=datetime.date(2019, 12, 27),
                stop=datetime.date(2020, 1, 2),
            )
        )

        # unknown service → 404 with the reference's message
        st, err = _get(port, "/services/nope/count/ip")
        assert st == 404 and "No such service" in err["error"]

        # SQL console: POST form, result envelope + error envelope
        data = "sql=SELECT count(*) AS n FROM access_log".encode()
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/sql", data=data, timeout=120
        ) as resp:
            out = _json.loads(resp.read())
        assert out["columns"] == ["n"] and out["rows"] == [[4]]
        st, bad = _get(port, "/sql?sql=SELEKT+1")
        assert st == 200 and "error" in bad  # reference renders the error

        # default console query runs through the pragma shim
        st, dflt = _get(port, "/sql")
        assert dflt["sql"].startswith("SELECT * FROM pragma_database_size")
        assert "rows" in dflt

        # nginx helper: valid + both invalid branches
        st, ng = _get(port, "/nginx?service=test&ip=203.0.113.9")
        assert ng["ip_version"] == 4 and ng["error"] == []
        st, ng6 = _get(port, "/nginx?service=bad-name&ip=zzz")
        assert len(ng6["error"]) == 2 and ng6["ip_version"] is None
    finally:
        srv.shutdown()


def test_http_bad_window_params_are_400(seeded_dao):
    """A malformed window or limit parameter is the client's error: 400
    with the reason, never a 500 with a raw Python message, and never a
    silently empty window."""
    from ballcone_spark.web import BallconeHTTPServer

    srv = BallconeHTTPServer(Ballcone(seeded_dao)).start()
    try:
        bad = [
            ("/services/test?days=abc", "days must be an integer"),
            ("/services/test?days=1.5", "days must be an integer"),
            ("/services/test?days=0", "days must be >= 1"),
            ("/services/test/count/ip?days=-3", "days must be >= 1"),
            ("/services/test/average/generation_time?days=99999999999",
             "days out of range"),
            ("/services/test?days=800000&stop=2020-01-02", "days out of range"),
            ("/services/test?stop=2020-13-01", "stop must be a YYYY-MM-DD"),
            ("/services/test/count_group/path?stop=yesterday",
             "stop must be a YYYY-MM-DD"),
            ("/services/test/count_group/path?limit=five", "limit must be"),
            ("/?day=2020-01-32", "day must be a YYYY-MM-DD"),
        ]
        for path, message in bad:
            st, err = _get(srv.port, path)
            assert st == 400 and message in err["error"], (path, st, err)
        # the edges of the valid range still answer
        st, one = _get(srv.port, "/services/test?days=1&stop=2020-01-02")
        assert st == 200 and list(one["overview"]) == ["2020-01-02"]
    finally:
        srv.shutdown()
