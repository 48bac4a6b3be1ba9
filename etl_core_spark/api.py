"""HTTP API.

Parity with the reference's FastAPI surface
(``src/etl_core/api/routers/execution.py:36-74`` — POST
/execution/{job_id}; ``api/routers/jobs`` — job CRUD;
``api/routers/schemas.py:33-180`` — GET /schemas for UI form
building). FastAPI is not available in this container, so the server
is stdlib ``http.server`` — same routes, JSON in/out, threaded.

Routes:
    GET    /health
    GET    /jobs                     list
    POST   /jobs                     create (body = job config JSON)
    GET    /jobs/{id}                fetch config
    PUT    /jobs/{id}                update
    DELETE /jobs/{id}                delete
    POST   /execution/{id}           run; returns execution record
    GET    /execution?job_id=...     list execution records
    GET    /operators                registry names
    GET    /operators/{name}         operator doc
    GET    /configs/job              job-document JSON Schema
    GET    /configs/component_types  concrete component type list
    GET    /configs/{type}/form      component JSON Schema, hidden stripped
    GET    /configs/{type}/full      component JSON Schema, all fields
    GET    /configs/{type}/hidden    component JSON Schema, hidden-only
    POST   /schedules                {job_id, trigger_type, trigger_args}
    GET    /schedules[/{id}]         list / fetch
    PUT    /schedules/{id}           retrigger
    DELETE /schedules/{id}           delete
    POST   /schedules/{id}/pause|resume|run-now
    POST   /contexts                 {context_id, mapping} (*_env secrets)
    GET    /contexts[/{id}]          list / fetch (secrets masked)
    DELETE /contexts/{id}            delete
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable, Optional
from urllib.parse import parse_qs, urlparse


class _BadRequest(Exception):
    """Malformed client request (maps to HTTP 400)."""


class ApiServer:
    def __init__(self, spark, store, host: str = "127.0.0.1", port: int = 8343):
        self.spark = spark
        self.store = store
        self.host = host
        self.port = port
        self._httpd: Optional[ThreadingHTTPServer] = None
        self._thread: Optional[threading.Thread] = None

    # -- routing --------------------------------------------------------

    def dispatch(self, method: str, path: str, query: dict, body: Any) -> tuple[int, Any]:
        from etl_core_spark.operators.base import get_operator, operator_doc, operator_names
        from etl_core_spark.plans import op_schemas

        def field(name):
            # a missing request-body field is the CLIENT's error (400),
            # not a missing resource — a bare body[name] KeyError was
            # conflated with the store's not-found KeyError (404)
            if not isinstance(body, dict) or name not in body:
                raise _BadRequest(f"request body requires {name!r}")
            return body[name]

        routes: list[tuple[str, str, Callable]] = [
            # reference api/routers/setup.py: GUI setup-key check (the
            # reference ships a placeholder constant; env-overridable here)
            ("GET", r"^/setup$",
             lambda m: (200, (query.get("key") or [None])[0]
                        == __import__("os").environ.get("ETL_SETUP_KEY", "VALID_KEY"))),
            ("GET", r"^/configs/job$", lambda m: (200, op_schemas.job_schema())),
            ("GET", r"^/configs/component_types$",
             lambda m: (200, op_schemas.component_types())),
            ("GET", r"^/configs/([^/]+)/(form|full|hidden)$",
             lambda m: (200, op_schemas.component_schema(m.group(1), m.group(2)))),
            ("GET", r"^/health$", lambda m: (200, {"status": "ok"})),
            ("GET", r"^/jobs$", lambda m: (200, self.store.list_jobs())),
            ("POST", r"^/jobs$", lambda m: (201, {"job_id": self.store.create_job(body)})),
            ("GET", r"^/jobs/([^/]+)$", lambda m: (200, self.store.get_job(m.group(1)))),
            ("PUT", r"^/jobs/([^/]+)$",
             lambda m: (200, {"updated": self.store.update_job(m.group(1), body) or True})),
            ("DELETE", r"^/jobs/([^/]+)$",
             lambda m: (200, {"deleted": self.store.delete_job(m.group(1)) or True})),
            ("POST", r"^/execution/([^/]+)$",
             lambda m: (200, self.store.start_execution(self.spark, m.group(1)).__dict__)),
            ("GET", r"^/execution$",
             lambda m: (200, [r.__dict__ for r in self.store.list_executions(
                 (query.get("job_id") or [None])[0])])),
            ("GET", r"^/operators$", lambda m: (200, operator_names())),
            ("GET", r"^/operators/([^/]+)$",
             lambda m: (200, {"name": m.group(1),
                              "doc": operator_doc(get_operator(m.group(1)))})),
            # schedules (reference api/routers/schedules.py: CRUD +
            # pause/resume/run-now, interval/cron/date triggers)
            ("POST", r"^/schedules$",
             lambda m: (201, {"schedule_id": self.store.create_schedule(
                 field("job_id"),
                 trigger_type=body.get("trigger_type", "interval"),
                 trigger_args=body.get("trigger_args"))})),
            ("GET", r"^/schedules$", lambda m: (200, self.store.list_schedules())),
            ("GET", r"^/schedules/([^/]+)$",
             lambda m: (200, self.store.get_schedule(m.group(1)))),
            ("PUT", r"^/schedules/([^/]+)$",
             lambda m: (200, self.store.update_schedule(
                 m.group(1), (body or {}).get("trigger_type"),
                 (body or {}).get("trigger_args")))),
            ("DELETE", r"^/schedules/([^/]+)$",
             lambda m: (200, {"deleted": self.store.delete_schedule(m.group(1)) or True})),
            ("POST", r"^/schedules/([^/]+)/pause$",
             lambda m: (200, self.store.pause_schedule(m.group(1)))),
            ("POST", r"^/schedules/([^/]+)/resume$",
             lambda m: (200, self.store.resume_schedule(m.group(1)))),
            ("POST", r"^/schedules/([^/]+)/run-now$",
             lambda m: (200, self.store.run_schedule_now(self.spark, m.group(1)).__dict__)),
            # contexts (reference api/routers/contexts.py: named
            # connection-parameter sets; secrets via *_env indirection,
            # literal secret values masked on read)
            ("POST", r"^/contexts$",
             lambda m: (201, {"context_id": self.store.create_context(
                 field("context_id"), field("mapping"))})),
            ("GET", r"^/contexts$", lambda m: (200, self.store.list_contexts())),
            ("GET", r"^/contexts/([^/]+)$",
             lambda m: (200, {"context_id": m.group(1),
                              "mapping": self.store.get_context(m.group(1))})),
            ("DELETE", r"^/contexts/([^/]+)$",
             lambda m: (200, {"deleted": self.store.delete_context(m.group(1)) or True})),
        ]
        for route_method, pattern, handler in routes:
            if method == route_method:
                match = re.match(pattern, path)
                if match:
                    try:
                        return handler(match)
                    except _BadRequest as exc:
                        return 400, {"error": str(exc)}
                    except KeyError as exc:
                        # only an EXACT KeyError is "resource not found".
                        # KeyError SUBCLASSES (ContextError: e.g. an unset
                        # secret env var while starting an execution) are
                        # server-side configuration failures, not a missing
                        # resource — surface them as 500.
                        if type(exc) is not KeyError:
                            return 500, {"error": f"{type(exc).__name__}: {exc}"}
                        return 404, {"error": str(exc)}
                    except Exception as exc:  # noqa: BLE001 - API boundary
                        return 400, {"error": f"{type(exc).__name__}: {exc}"}
        return 404, {"error": f"no route {method} {path}"}

    # -- server ---------------------------------------------------------

    def _make_handler(self):
        api = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _respond(self):
                parsed = urlparse(self.path)
                body = None
                length = int(self.headers.get("Content-Length") or 0)
                if length:
                    try:
                        body = json.loads(self.rfile.read(length))
                    except (json.JSONDecodeError, UnicodeDecodeError) as exc:
                        # malformed body must yield a 400 payload, not
                        # an uncaught traceback + dropped connection
                        self._send(400, {"error": f"invalid JSON body: {exc}"})
                        return
                status, payload = api.dispatch(
                    self.command, parsed.path, parse_qs(parsed.query), body
                )
                self._send(status, payload)

            def _send(self, status: int, payload) -> None:
                data = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            do_GET = do_POST = do_PUT = do_DELETE = _respond

        return Handler

    def start(self) -> "ApiServer":
        self._httpd = ThreadingHTTPServer((self.host, self.port), self._make_handler())
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()


def serve(spark, store, host: str = "127.0.0.1", port: int = 8343) -> ApiServer:
    return ApiServer(spark, store, host, port).start()
