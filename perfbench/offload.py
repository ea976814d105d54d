"""The benchmark's own heavy work, out of the measured process tree.

Input generation (numpy, pyarrow) and every DuckDB check run in one
helper Python process. The tree meter leaves the helper out, so the
CPU and peak memory of the program's driver, JVM and workers carry
none of the benchmark's own cost. The helper is started with the
pinned environment, serves one call at a time over its stdin and
stdout (pickled module, function name and arguments), and ends when
its stdin closes.

    helper = Helper()
    path = helper.call(daily_etl.day_inputs, inputs, 3)
    helper.close()
"""

from __future__ import annotations

import importlib
import os
import pickle
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


class HelperError(RuntimeError):
    """A call raised in the helper; the message is its traceback."""


class Helper:
    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.pid = self.proc.pid

    def call(self, fn, *args):
        """``fn(*args)`` in the helper; ``fn`` is a module-level function
        of the benchmark's own modules."""
        pickle.dump((fn.__module__, fn.__qualname__, args), self.proc.stdin)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise HelperError(value)
        return value

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def serve() -> None:
    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    calls, replies = sys.stdin.buffer, sys.stdout.buffer
    # a stray print must not corrupt the replies
    sys.stdout = sys.stderr
    while True:
        try:
            module, name, args = pickle.load(calls)
        except EOFError:
            return
        try:
            reply = (True, getattr(importlib.import_module(module), name)(*args))
        except Exception:  # noqa: BLE001 - handed back to the caller
            reply = (False, traceback.format_exc(limit=8))
        pickle.dump(reply, replies)
        replies.flush()


if __name__ == "__main__":
    serve()
