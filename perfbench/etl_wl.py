"""ETL workloads: closed-loop clients upload generated documents to the
engine's HTTP server (``POST /run-etl``), then read the stored schema
(``GET /schema/<id>``) and the output (``GET /download``). The server
runs in a child process; when its engine dies the clients carry on
through their schedule and every later request counts as failed."""

from __future__ import annotations

import http.client
import json
import os
import signal
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
import uuid
from dataclasses import dataclass

from perfbench import datagen
from perfbench.trace import RssSampler

SOURCE_ID = "default_source"  # the server's default pipeline config
TABLE_ROW_CAP = 10_000  # sinks.TABLE_ROW_CAP: rows above it are cut from the response
HTTP_TIMEOUT = 90.0
READY_TIMEOUT = 150.0
CLIENT_STAGGER_S = 0.5


@dataclass
class EtlOp:
    kind: str
    records: int
    start: float
    end: float
    ok: bool
    errored: bool  # the request failed or the engine reported an error
    error: str = ""
    response_bytes: int = 0


def _multipart(filename: str, body: bytes) -> tuple[bytes, str]:
    b = uuid.uuid4().hex
    head = (f"--{b}\r\nContent-Disposition: form-data; name=\"inputFile\"; "
            f"filename=\"{filename}\"\r\nContent-Type: application/octet-stream\r\n\r\n")
    return head.encode() + body + f"\r\n--{b}--\r\n".encode(), f"multipart/form-data; boundary={b}"


def _get(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url, timeout=HTTP_TIMEOUT) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as err:
        return err.code, err.read()


def _no_output(body: bytes) -> bool:
    try:
        return json.loads(body) == {"error": "No output produced."}
    except ValueError:
        return False


def check_upload(doc: datagen.Document, resp: dict) -> str:
    """Why the run-etl response is wrong for ``doc``, or "" if right."""
    if resp.get("success") is not True:
        return f"success={resp.get('success')!r}: {str(resp.get('error', ''))[:300]}"
    if not isinstance(resp.get("schema"), dict):
        return "no schema in response"
    rows = len(resp.get("table") or [])
    if doc.expect_rows < 0:  # row count not known in advance
        return ""
    if doc.expect_rows > TABLE_ROW_CAP:
        if resp.get("truncated") is not True or rows != TABLE_ROW_CAP:
            return f"expected a truncated table of {TABLE_ROW_CAP} rows, got {rows}"
    elif rows != doc.expect_rows or "truncated" in resp:
        return f"expected {doc.expect_rows} rows, got {rows}"
    return ""


def upload(base: str, doc: datagen.Document) -> EtlOp:
    """One operation: POST the document, then GET its schema and the
    output CSV. Timed end to end; checked after the clock stops."""
    data, ctype = _multipart(doc.filename, doc.body)
    req = urllib.request.Request(f"{base}/run-etl", data=data, headers={"Content-Type": ctype})
    t0 = time.time()
    try:
        with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT) as r:
            post = r.read()
        s_status, s_body = _get(f"{base}/schema/{SOURCE_ID}")
        d_status, d_body = _get(f"{base}/download")
    except (OSError, http.client.HTTPException) as err:  # refused, reset, cut or timed out
        return EtlOp(doc.kind, doc.records, t0, time.time(), False, True,
                     f"{type(err).__name__}: {err}")
    t1 = time.time()
    nbytes = len(post) + len(s_body) + len(d_body)
    try:
        resp = json.loads(post)
    except ValueError as err:
        return EtlOp(doc.kind, doc.records, t0, t1, False, True, f"unparseable response: {err}")
    errored = resp.get("success") is not True
    why = check_upload(doc, resp)
    if not why and s_status != 200:
        why = f"GET /schema returned {s_status}"
    # another client's upload deletes the shared output while it runs,
    # so "no output" is a correct answer to a download beside a write
    if not why and not (d_status == 200 and d_body or d_status == 404 and _no_output(d_body)):
        why = f"GET /download returned {d_status} with {len(d_body)} bytes"
    return EtlOp(doc.kind, doc.records, t0, t1, not why, errored, why, nbytes)


class ServerProcess:
    """The ETL server in a child process of its own session, so stopping
    it takes its JVM and Python workers along."""

    def __init__(self, work: str, trace: bool) -> None:
        self.work = work
        self.ready_path = os.path.join(work, "server-ready.json")
        self.result_path = os.path.join(work, "server-result.json")
        for p in (self.ready_path, self.result_path):
            if os.path.exists(p):
                os.remove(p)
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "etl_server.py")
        cmd = [sys.executable, script, "--workdir", work,
               "--ready", self.ready_path, "--result", self.result_path]
        if trace:
            cmd.append("--trace")
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=self.log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
        self.info: dict = {}

    def wait_ready(self) -> dict:
        deadline = time.time() + READY_TIMEOUT
        while not os.path.exists(self.ready_path):
            if self.proc.poll() is not None:
                raise RuntimeError(f"ETL server exited with {self.proc.returncode} before serving")
            if time.time() > deadline:
                raise RuntimeError("ETL server not ready in time")
            time.sleep(0.05)
        with open(self.ready_path) as f:
            self.info = json.load(f)
        return self.info

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self.info['port']}"

    def stop(self) -> dict:
        """Close the child's stdin, wait for it, and return its records;
        kill its whole process group if it does not exit in time."""
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        finally:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
            self.log.close()
        if not os.path.exists(self.result_path):
            return {"spans": [], "requests": []}
        with open(self.result_path) as f:
            return json.load(f)


def warm_document() -> datagen.Document:
    """A small upload touching the JSON, CSV and log code paths."""
    body = ('{"id": 1, "name": "warm"}\n'
            "[2025-01-01 00:00:00] warm-up line\n"
            "id,name,score\n1,a,2\n2,b,3\n").encode()
    return datagen.Document("warm", "warm.txt", body, 0, -1)


def run(ctx, schedules: list[list[datagen.Document]], min_ops: int) -> dict:
    """Start the server, warm it, then run one closed-loop client per
    schedule. A client sends its schedule in order: at least ``min_ops``
    uploads whatever happens to them, then more only while its last
    upload's latency would still end inside ``ctx.seconds``."""
    srv = ServerProcess(ctx.work, ctx.trace)
    with RssSampler(srv.proc.pid) as sampler:
        try:
            info = srv.wait_ready()
            ctx.java = info.get("java", "")
            warm = upload(srv.base, warm_document())
            ctx.ready()

            ops: list[EtlOp] = []
            lock = threading.Lock()
            t_start = time.time()

            def client(c: int, docs: list[datagen.Document]) -> None:
                # staggered starts make the server lock's first holder, and so
                # the order requests alternate in, the same on every run
                time.sleep(c * CLIENT_STAGGER_S)
                i, last = 0, 0.0
                while i < min_ops or time.time() - t_start + last <= ctx.seconds:
                    op = upload(srv.base, docs[i % len(docs)])
                    with lock:
                        ops.append(op)
                    i, last = i + 1, op.end - op.start

            threads = [threading.Thread(target=client, args=(c, s)) for c, s in enumerate(schedules)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.time() - t_start
        finally:
            server_out = srv.stop()
    return {
        "ops": ops,
        "wall": wall,
        "warm_failures": [] if warm.ok else [("warm", warm.error)],
        "server": server_out,
        "session_start_s": info["session_start_s"],
        "t_start": t_start,
        "peak_rss": sampler.peak,
        "peak_split": sampler.peak_split,
    }
