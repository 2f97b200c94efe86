"""A throwaway Postgres cluster for one benchmark run.

Postgres refuses to run as root, so the server runs as ``nobody``, as
``tests/test_postgres_upsert_integration.py`` does. The cluster lives
inside the benchmark's work directory, whose parents ``nobody`` may
not be able to traverse; ``setpriv`` therefore keeps the two
directory-access capabilities for the server process. It listens only
on a unix socket (``listen_addresses=''``). Missing binaries raise:
a benchmark without its database fails instead of skipping.
"""

from __future__ import annotations

import os
import shutil
import subprocess

_BIN = "/usr/local/bin"
_AS_NOBODY = [
    "setpriv", "--reuid=nobody", "--regid=nogroup", "--clear-groups",
    "--inh-caps=+dac_override,+dac_read_search",
    "--ambient-caps=+dac_override,+dac_read_search",
]
# Unix socket paths are limited to 107 bytes including the file name.
_MAX_SOCKET_DIR = 107 - len("/.s.PGSQL.5432")


class Postgres:
    """``start()`` initdb's and starts a cluster under ``root``;
    ``stop()`` stops it and is safe to call more than once."""

    def __init__(self, root: str, user: str = "pguser"):
        self.root = os.path.abspath(root)
        self.data = os.path.join(self.root, "data")
        self.socket_dir = os.path.join(self.root, "s")
        self.user = user
        self._running = False

    def _nobody(self, *cmd: str) -> None:
        p = subprocess.run(
            [*_AS_NOBODY, *cmd], capture_output=True, text=True,
            cwd=self.root, timeout=60,
        )
        if p.returncode != 0:
            raise RuntimeError(
                f"{os.path.basename(cmd[0])} failed: {p.stderr.strip()[-400:]}"
            )

    def start(self) -> None:
        for tool in ("setpriv", "psql", f"{_BIN}/initdb", f"{_BIN}/pg_ctl"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"postgres benchmark needs {tool}")
        if len(self.socket_dir) > _MAX_SOCKET_DIR:
            raise RuntimeError(f"socket path too long: {self.socket_dir}")
        import pwd

        nobody = pwd.getpwnam("nobody")
        for d in (self.root, self.data, self.socket_dir):
            os.makedirs(d, exist_ok=True)
            os.chown(d, nobody.pw_uid, nobody.pw_gid)
        os.chmod(self.data, 0o700)
        self._nobody(f"{_BIN}/initdb", "-D", self.data, "-A", "trust",
                     "-U", self.user, "-N")
        self._running = True  # stop() must run even if start fails below
        self._nobody(
            f"{_BIN}/pg_ctl", "-D", self.data, "-w", "-t", "60",
            "-l", os.path.join(self.root, "pg.log"),
            "-o", f"-k {self.socket_dir} -c listen_addresses='' "
                  "-c fsync=off -c max_connections=50",
            "start",
        )

    def stop(self) -> None:
        if not self._running:
            return
        self._running = False
        self._nobody(f"{_BIN}/pg_ctl", "-D", self.data, "-m", "fast", "-w",
                     "-t", "60", "stop")

    def sql(self, statement: str) -> str:
        p = subprocess.run(
            ["psql", "-h", self.socket_dir, "-U", self.user, "-d", "postgres",
             "-v", "ON_ERROR_STOP=1", "-At", "-f", "-"],
            input=statement, capture_output=True, text=True, timeout=120,
        )
        if p.returncode != 0:
            raise RuntimeError(f"psql failed: {p.stderr.strip()[:400]}")
        return p.stdout
