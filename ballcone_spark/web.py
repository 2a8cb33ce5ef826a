"""Thin HTTP front — the reference's route surface over the existing
:class:`~ballcone_spark.app.Ballcone` handlers (VERDICT r3 #7).

Routes mirror reference ``ballcone/__main__.py:60-98`` exactly:

    GET  /                                      dashboard (root.html data)
    GET  /services                              302 → /
    GET  /services/{service}                    per-service page data
    GET  /services/{service}/average/{field}    AverageResult JSON
    GET  /services/{service}/count/{field}      CountResult JSON
    GET  /services/{service}/count_group/{grp}  CountResult JSON
         ?distinct=<field>&ascending=1&limit=N  (reference query params)
    GET|POST /sql                               SQL console envelope
    GET  /nginx                                 config-helper data

The reference renders most routes through Jinja2 templates; UI
pixel-parity is a declared non-goal (SURVEY.md §7), so every route here
returns the handler's data dict as JSON — the same dict the reference
passes to its template (or returns via ``web.json_response`` for the
API routes, where the envelopes are shape-identical NamedTuples).

Implementation is stdlib-only (``http.server.ThreadingHTTPServer``):
aiohttp isn't a baked-in dependency of this container, and the front is
deliberately thin — every piece of logic lives in (tested) ``app.py`` /
``dao.py``; this module only parses routes and serializes envelopes.
Testability extension beyond the reference: the windowed routes accept
``days`` and ``stop=YYYY-MM-DD`` query params (the reference hardcodes
"today", which makes goldens impossible); defaults match the reference.
A malformed ``days``/``stop``/``day``/``limit`` (not a number or date,
``days`` < 1, a window before year 1) is answered 400 with the reason.
"""

from __future__ import annotations

import datetime
import json
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from ipaddress import ip_address
from typing import Any, Optional

from ballcone_spark.app import Ballcone, days_before, json_value

__all__ = ["BallconeHTTPServer", "encode"]

_VALID_SERVICE = re.compile(r"\A\w+\Z")  # reference core.py:15


class _BadRequest(ValueError):
    """A malformed query parameter: answered with 400 and its message."""


def _int_param(
    q: dict, name: str, default: Optional[int], minimum: Optional[int] = None
) -> Optional[int]:
    raw = q.get(name, [None])[0]
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        raise _BadRequest(f"{name} must be an integer, got {raw!r}") from None
    if minimum is not None and value < minimum:
        raise _BadRequest(f"{name} must be >= {minimum}, got {value}")
    return value


def _date_param(q: dict, name: str) -> Optional[datetime.date]:
    raw = q.get(name, [None])[0]
    if raw is None:
        return None
    try:
        return datetime.date.fromisoformat(raw)
    except ValueError:
        raise _BadRequest(f"{name} must be a YYYY-MM-DD date, got {raw!r}") from None


def encode(obj: Any) -> Any:
    """Recursively JSON-ify result envelopes: NamedTuples → dicts (field
    names preserved — the reference serializes the same NamedTuples),
    dates → ISO strings."""
    if hasattr(obj, "_asdict"):
        return {k: encode(v) for k, v in obj._asdict().items()}
    if isinstance(obj, dict):
        return {k: encode(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [encode(v) for v in obj]
    return json_value(obj)


class _Handler(BaseHTTPRequestHandler):
    app: Ballcone  # set per-server via type()
    days: int

    # ------------------------------------------------------------------ #

    def _send(self, status: int, payload: Any, location: str | None = None):
        body = json.dumps(payload).encode() if payload is not None else b""
        self.send_response(status)
        if location:
            self.send_header("Location", location)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _not_found(self, service: str):
        self._send(404, {"error": f"No such service: {service}"})

    def _check_service(self, service: str, should_exist: bool = True) -> bool:
        if not _VALID_SERVICE.match(service or ""):
            return False
        return self.app.dao.table_exists(service) if should_exist else True

    def _window(self, q: dict) -> tuple[datetime.date, datetime.date]:
        days = _int_param(q, "days", self.days, minimum=1)
        stop = _date_param(q, "stop")
        try:
            return days_before(stop, days)
        except OverflowError:  # the window starts before year 1
            raise _BadRequest(f"days out of range, got {days}") from None

    # ------------------------------------------------------------------ #

    def do_GET(self):  # noqa: N802 (http.server API)
        self._route(post_data={})

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(length).decode() if length else ""
        post = urllib.parse.parse_qs(raw)
        self._route(post_data=post)

    def _route(self, post_data: dict):
        url = urllib.parse.urlparse(self.path)
        q = urllib.parse.parse_qs(url.query)
        parts = [p for p in url.path.split("/") if p]
        try:
            if not parts:
                return self._root(q)
            if parts[0] == "services":
                if len(parts) == 1:
                    return self._send(302, None, location="/")
                if len(parts) == 2:
                    return self._service(parts[1], q)
                if len(parts) == 4 and parts[2] in ("average", "count"):
                    return self._average_or_count(
                        parts[1], parts[2], parts[3], q
                    )
                if len(parts) == 4 and parts[2] == "count_group":
                    return self._count_group(parts[1], parts[3], q)
            if parts == ["sql"]:
                return self._sql(q, post_data)
            if parts == ["nginx"]:
                return self._nginx(q)
            return self._send(404, {"error": f"No such route: {url.path}"})
        except _BadRequest as e:
            return self._send(400, {"error": str(e)})
        except Exception as e:  # surface, don't hang the socket
            return self._send(500, {"error": str(e)})

    # -- handlers (reference web_ballcone.py names) --------------------- #

    def _root(self, q: dict):
        dashboard = self.app.dashboard(_date_param(q, "day"))
        self._send(
            200,
            {
                "current_page": "root",
                "size": self.app.size(),
                "services": self.app.dao.tables(),
                "dashboard": [[d["service"], d["unique"]] for d in dashboard],
            },
        )

    def _service(self, service: str, q: dict):
        if not self._check_service(service):
            return self._not_found(service)
        start, stop = self._window(q)
        page = self.app.service_page(
            service, days=(stop - start).days + 1, stop=stop
        )
        self._send(
            200,
            {
                "current_page": "service",
                "current_service": service,
                "services": self.app.dao.tables(),
                **encode(page),
            },
        )

    def _average_or_count(self, service: str, kind: str, field: str, q: dict):
        if not self._check_service(service):
            return self._not_found(service)
        start, stop = self._window(q)
        if kind == "average":
            res = self.app.dao.select_average(service, field, start, stop)
        else:
            res = self.app.dao.select_count(
                service, field=field, start=start, stop=stop
            )
        self._send(200, encode(res))

    def _count_group(self, service: str, group: str, q: dict):
        if not self._check_service(service):
            return self._not_found(service)
        # reference semantics (web_ballcone.py:111-129): the `distinct`
        # query param doubles as the count field AND the distinct flag
        field = q.get("distinct", [None])[0]
        distinct = bool(field)
        ascending = bool(q.get("ascending", [None])[0])
        limit = _int_param(q, "limit", None)
        start, stop = self._window(q)
        res = self.app.dao.select_count_group(
            service,
            field=field,
            group=group,
            distinct=distinct,
            ascending=ascending,
            limit=limit,
            start=start,
            stop=stop,
        )
        self._send(200, encode(res))

    def _sql(self, q: dict, post_data: dict):
        sql = (
            post_data.get("sql", [None])[0]
            or q.get("sql", [None])[0]
            or "SELECT * FROM pragma_database_size();"
        )
        envelope = self.app.sql(sql)
        self._send(
            200,
            {
                "current_page": "sql",
                "services": self.app.dao.tables(),
                "sql": sql,
                **envelope,
            },
        )

    def _nginx(self, q: dict):
        service = q.get("service", ["example"])[0]
        ip = q.get("ip", ["127.0.0.1"])[0]
        error = []
        if not self._check_service(service, should_exist=False):
            error.append(
                f"Invalid service name: {json.dumps(service)}, must match "
                f"/{_VALID_SERVICE.pattern}/"
            )
        try:
            ip_version: Optional[int] = ip_address(ip).version
        except ValueError:
            error.append(f"Invalid Ballcone IP address: {json.dumps(ip)}")
            ip_version = None
        self._send(
            200,
            {
                "current_page": "nginx",
                "services": self.app.dao.tables(),
                "service": service,
                "ip": ip,
                "ip_version": ip_version,
                "error": error,
            },
        )

    def log_message(self, *args):  # quiet test output
        pass


class BallconeHTTPServer:
    """Serve a :class:`Ballcone` instance over HTTP. ``port=0`` picks an
    ephemeral port (exposed as ``.port`` after :meth:`start`)."""

    def __init__(
        self,
        app: Ballcone,
        days: int = 7,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        handler = type("BoundHandler", (_Handler,), {"app": app, "days": days})
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "BallconeHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)
