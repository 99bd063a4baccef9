"""Start the dungbeetle-spark server the way ``python -m dungbeetle_spark``
does, optionally with span tracing.

Usage: python3 perfbench/serve.py [--spans FILE] -- <server arguments>

With ``--spans``, every traced layer function is wrapped before the
server starts and the spans are written to FILE when it exits. SIGINT
or SIGTERM stops the server through its own shutdown path.
"""

from __future__ import annotations

import signal
import sys


def _interrupt(signum, frame):
    raise KeyboardInterrupt


def main(argv: list[str]) -> int:
    spans = None
    if argv[:1] == ["--spans"]:
        spans, argv = argv[1], argv[2:]
    if argv[:1] == ["--"]:
        argv = argv[1:]
    signal.signal(signal.SIGTERM, _interrupt)
    rec = None
    if spans:
        from tracing import Recorder, install

        rec = Recorder()
        install(rec)
    from dungbeetle_spark.__main__ import main as server_main

    try:
        return server_main(argv)
    finally:
        if rec is not None:
            rec.dump(spans)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
