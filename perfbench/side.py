"""The benchmark's side process: input generation and the DuckDB models.

``Side`` starts ``python3 side.py`` as a plain child process (no
``multiprocessing``, so no resource-tracker process that outlives the
run) and sends it calls one at a time over its stdin; the child runs
them in order and answers each over its stdout.  ``Side.close`` ends
the child and waits for it on every path out of the benchmark.

Wire format: one pickled ``(function, args)`` per call, one pickled
``(ok, value)`` per answer, where ``value`` is the error text when
``ok`` is false.  Functions travel by reference, so they must live in a
module of this directory (inputs.py, oracle.py).
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


class Pending:
    """One call's answer, read when it is asked for."""

    def __init__(self, side: "Side", index: int) -> None:
        self._side = side
        self._index = index

    def result(self):
        return self._side._answer(self._index)


class Side:
    """Calls into one child process, answered in the order they were
    made.  The child imports inputs.py and oracle.py as it starts;
    ``ready`` is answered once it has."""

    def __init__(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "side.py")], stdin=subprocess.PIPE, stdout=subprocess.PIPE
        )
        self._sent = 1  # answer 0 is the child's "imported"
        self._received: dict[int, tuple[bool, object]] = {}
        self._next = 0
        self.ready = Pending(self, 0)

    def submit(self, fn, *args) -> Pending:
        pickle.dump((fn, args), self._proc.stdin)
        self._proc.stdin.flush()
        self._sent += 1
        return Pending(self, self._sent - 1)

    def _answer(self, index: int):
        while index not in self._received:
            try:
                self._received[self._next] = pickle.load(self._proc.stdout)
            except EOFError:
                raise RuntimeError(f"side process exited with code {self._proc.wait()}") from None
            self._next += 1
        ok, value = self._received.pop(index)
        if not ok:
            raise RuntimeError(f"side process call failed:\n{value}")
        return value

    def close(self, timeout_s: float = 10.0) -> None:
        """End the child: its stdin closes, so it exits after the call it
        is running; a child still busy after ``timeout_s`` is killed.
        Returns once it has exited."""
        try:
            self._proc.stdin.close()
        except OSError:
            pass  # it has already exited
        try:
            self._proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


def serve() -> None:
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # anything the called code prints goes to stderr, not into the answers
    sys.path.insert(0, HERE)
    import inputs  # noqa: F401  (imported before timing starts, so no call pays for it)
    import oracle  # noqa: F401

    pickle.dump((True, None), out)
    out.flush()
    while True:
        try:
            fn, args = pickle.load(sys.stdin.buffer)
        except EOFError:
            return
        try:
            answer = (True, fn(*args))
        except Exception:  # noqa: BLE001  (reported to the caller, which raises it)
            answer = (False, traceback.format_exc())
        pickle.dump(answer, out)
        out.flush()


if __name__ == "__main__":
    serve()
