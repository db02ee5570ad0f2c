"""The loopback HTTP object store in a process of its own.

    python3 -m perfbench.httpserver <root_dir>

prints the server URL, then answers one command per input line: ``clear``
empties the request log, ``log`` prints it as JSON, ``stop`` (or the end
of input) shuts the server down.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def serve(root_dir: str) -> None:
    from mdio_cpp_spark.sources.http_loopback import LoopbackHttpServer

    srv = LoopbackHttpServer(root_dir).start()
    try:
        print(srv.url, flush=True)
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "clear":
                srv.clear_log()
                print("ok", flush=True)
            elif cmd == "log":
                print(json.dumps(list(srv.requests)), flush=True)
            elif cmd == "stop":
                break
    finally:
        srv.stop()


class ServerProcess:
    """Run ``serve`` in a child interpreter; ``url`` is the server root."""

    def __init__(self, root_dir: str):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYTHONPATH=root)
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.httpserver", root_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=root, env=env)
        self.url = self._proc.stdout.readline().strip()
        if not self.url.startswith("http"):
            self.stop()
            raise RuntimeError("loopback HTTP server did not start")

    def _call(self, cmd: str) -> str:
        self._proc.stdin.write(cmd + "\n")
        self._proc.stdin.flush()
        return self._proc.stdout.readline()

    def clear(self) -> None:
        self._call("clear")

    def log(self) -> list:
        return json.loads(self._call("log"))

    def stop(self) -> None:
        try:
            self._proc.stdin.close()
        except OSError:
            pass
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)
        self._proc.stdout.close()


if __name__ == "__main__":
    serve(sys.argv[1])
