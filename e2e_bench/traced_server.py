"""The engine's HTTP server, started through its own ``main``, with the
benchmark's spans around its layers.

    python -u traced_server.py SPANS_JSON [server args...]

A request carrying an ``X-Bench-Op`` header runs as one traced op under
its own Spark job group. On SIGTERM the spans and per-op statistics are
written to SPANS_JSON and the process exits.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import write_json  # noqa: E402
from layers import instrument  # noqa: E402
from spans import Tracer  # noqa: E402


def main() -> None:
    spans_path = sys.argv[1]
    sys.argv = ["karna_spark.server"] + sys.argv[2:]
    import karna_spark.server as server

    tracer = Tracer()
    instrument(tracer)
    create_server = server.create_server

    def traced_create_server(*args, **kwargs):
        srv = create_server(*args, **kwargs)
        handler = srv.RequestHandlerClass
        do_post = handler.do_POST

        def do_POST(self):
            op = self.headers.get("X-Bench-Op")
            if not op:
                return do_post(self)
            with tracer.op(op, "request"):
                return do_post(self)

        handler.do_POST = do_POST
        return srv

    server.create_server = traced_create_server

    def on_term(signum, frame):
        write_json(spans_path, tracer.dump())
        os._exit(0)

    signal.signal(signal.SIGTERM, on_term)
    server.main()


if __name__ == "__main__":
    main()
