"""A throwaway local Postgres holding the TPC-H tables.

The server runs as the `postgres` user (Postgres refuses to run as root)
with trust auth on a free 127.0.0.1 port and no Unix socket. Its data dir
lives under the benchmark's work dir; the server keeps only the capability
to traverse directories, so that dir may sit below a private home.

`template(work_dir, tpch_dir, tables, log)` builds, once per work dir, a
cluster loaded with the tables (`psql \\copy`, then `ANALYZE`) and shuts it
down cleanly. Each run's `Postgres` starts on a fresh copy of it. Use
`Postgres` as a context manager: teardown always runs, also on failure.
"""
import json
import os
import shutil
import socket
import subprocess
import time

import duckdb

PG_DEBIAN_BIN = "/usr/lib/postgresql/15/bin"
PG_TYPES = {"int32": "integer", "int64": "bigint", "double": "double precision",
            "string": "text", "timestamp[us]": "timestamp"}
DATABASE = "tpch"


def _find(binary):
    """`binary` on PATH, else in Debian's versioned server dir."""
    found = shutil.which(binary) or shutil.which(binary, path=PG_DEBIAN_BIN)
    if not found:
        raise RuntimeError(f"Postgres fixture: `{binary}` not found; the "
                           "tpch_federated workload needs a local Postgres 15")
    return found


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    def __init__(self, root, log, template=None):
        self.root = root
        self.template = template
        self.data = os.path.join(self.root, "data")
        self.log = log
        self.port = None
        self.started = False
        self.bins = {b: _find(b) for b in ("initdb", "pg_ctl", "postgres", "psql")}

    def _as_postgres(self, argv):
        if os.geteuid() != 0:
            return argv
        return ["setpriv", "--reuid", "postgres", "--regid", "postgres",
                "--init-groups", "--inh-caps", "+dac_read_search",
                "--ambient-caps", "+dac_read_search"] + argv

    def _run(self, argv, **kw):
        subprocess.run(argv, check=True, stdout=self.log, stderr=self.log,
                       timeout=120, **kw)

    def psql(self, sql, capture=False):
        argv = [self.bins["psql"], "-h", "127.0.0.1", "-p", str(self.port),
                "-U", "postgres", "-d", DATABASE, "-v", "ON_ERROR_STOP=1",
                "-X", "-q", "-A", "-t", "-c", sql]
        if capture:
            return subprocess.run(argv, check=True, capture_output=True,
                                  text=True, timeout=120).stdout.strip()
        self._run(argv)

    def __enter__(self):
        try:
            self._start(os.path.join(self.template, "data"))
        except BaseException:
            self.__exit__()
            raise
        return self

    def _start(self, source=None):
        """Start on a copy of the data dir `source`, or on a new cluster."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        if os.geteuid() == 0:
            shutil.chown(self.root, "postgres", "postgres")
        if source:
            self._run(["cp", "-a", source, self.data])
        else:
            os.makedirs(self.data)
            if os.geteuid() == 0:
                shutil.chown(self.data, "postgres", "postgres")
            self._run(self._as_postgres([self.bins["initdb"], "-D", self.data,
                      "-U", "postgres", "--auth=trust", "-E", "UTF8", "--no-sync"]))
        self.port = _free_port()
        opts = (f"-c listen_addresses=127.0.0.1 -c port={self.port} "
                "-c unix_socket_directories='' -c fsync=off "
                "-c synchronous_commit=off -c full_page_writes=off")
        self.started = True
        self._run(self._as_postgres([self.bins["pg_ctl"], "-D", self.data, "-w",
                  "-l", os.path.join(self.root, "server.log"), "-o", opts, "start"]))
        if not source:
            self._run([self.bins["psql"], "-h", "127.0.0.1", "-p", str(self.port),
                       "-U", "postgres", "-d", "postgres", "-X", "-q",
                       "-c", f"CREATE DATABASE {DATABASE}"])

    def load(self, tpch_dir, tables):
        """Create and fill the tables from the parquet files (psql \\copy of
        CSV), then ANALYZE. Returns {table: bytes} plus shared_buffers."""
        con = duckdb.connect()
        csv_dir = os.path.join(self.root, "csv")
        os.makedirs(csv_dir, exist_ok=True)
        for t in tables:
            src = os.path.join(tpch_dir, f"{t}.parquet")
            schema = con.execute(f"SELECT * FROM read_parquet('{src}') LIMIT 0").arrow().schema
            cols = ", ".join(f"{f.name} {PG_TYPES[str(f.type)]}" for f in schema)
            csv = os.path.join(csv_dir, f"{t}.csv")
            con.execute(f"COPY (SELECT * FROM read_parquet('{src}')) TO '{csv}' "
                        "(FORMAT csv, HEADER false, TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S')")
            self.psql(f"CREATE TABLE {t} ({cols})")
            self.psql(f"\\copy {t} FROM '{csv}' WITH (FORMAT csv)")
        self.psql("ANALYZE")
        shutil.rmtree(csv_dir, ignore_errors=True)
        sizes = {t: int(self.psql(f"SELECT pg_total_relation_size('{t}')", capture=True))
                 for t in tables}
        return sizes, self.psql("SHOW shared_buffers", capture=True)

    def sizes(self):
        """{table: bytes} of the template's tables, and shared_buffers."""
        with open(os.path.join(self.template, "sizes.json")) as f:
            d = json.load(f)
        return d["sizes"], d["shared_buffers"]

    def address(self):
        return f"127.0.0.1:{self.port}/{DATABASE}?user=postgres"

    def __exit__(self, *exc):
        self.stop("immediate")
        shutil.rmtree(self.root, ignore_errors=True)
        return False

    def stop(self, mode):
        if self.started:
            try:
                self._run(self._as_postgres([self.bins["pg_ctl"], "-D", self.data,
                          "-m", mode, "-w", "stop"]))
            except Exception:
                pid_file = os.path.join(self.data, "postmaster.pid")
                if os.path.exists(pid_file):
                    with open(pid_file) as f:
                        pid = int(f.readline())
                    os.kill(pid, 9)
                    for _ in range(100):
                        try:
                            os.kill(pid, 0)
                        except OSError:
                            break
                        time.sleep(0.1)
            self.started = False


def template(work_dir, tpch_dir, tables, log):
    """The loaded, cleanly stopped cluster each run copies; built once."""
    root = os.path.join(work_dir, "pg-template")
    if os.path.exists(os.path.join(root, "sizes.json")):
        return root
    pg = Postgres(root, log)
    try:
        pg._start()
        sizes, shared = pg.load(tpch_dir, tables)
        pg.stop("fast")
    except BaseException:
        pg.__exit__()
        raise
    with open(os.path.join(root, "sizes.json"), "w") as f:
        json.dump({"sizes": sizes, "shared_buffers": shared}, f)
    return root
