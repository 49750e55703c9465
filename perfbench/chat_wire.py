"""The stream part of a run: the chat module behind ``LeafSocketIOServer``,
driven over websocket + engine.io + msgpack socket.io at fixed rates.

The server runs in the engine process (``engine``), so the load generator
never shares the engine driver's interpreter lock.  The generator is one
thread that ``select``s over three connections to the workload's one
stream (``small`` starts empty and stays under the mirror caps; ``large``
is preloaded past the 16,384-row append-mirror cap, so its queries take
the Spark path):

- a writer sending 10-event ``stream/event_batch`` calls; a seeded share
  of the warm-up batches carries an event without ``content``, which the
  authorizer must reject;
- a reader fetching the latest ``messages`` page, and in the warm-up also
  ``message_stats``, ``my_unread`` and ``stream/state_event_batch`` read
  markers;
- a subscriber holding one ``messages`` subscription.

Open loop: every window call has a scheduled send time and is timed from
it.  The stream part's set-up is the stream's preparation in the engine
process (module upload, stream creation, preload), the connections, a
closed-loop warm-up of fixed count and ``WARMUP_FRAMES`` untimed frames of
the window's schedule.
"""

from __future__ import annotations

import json
import random
import select
import socket
import struct
import time

from . import modules as M
from .common import Outcome, latency_stats, median, pct

# A frame of FRAME_S seconds holds one commit and a few page reads, at
# these offsets.  On a 4-core host a commit plus its subscription push
# takes ~0.35-0.55 s, a mirror-served page ~5 ms and a Spark-path page
# ~0.12 s: the reads follow the push without queueing on the stream lock
# or on the reader's connection, and the engine is idle for about half the
# frame, which absorbs a slow call without delaying the next frame.  The
# mirror-served page is cheap but its latency is mostly thread wake-ups,
# which scatter, so it is sampled four times a frame.
FRAME_S = 1.5
OFFSETS = {  # workload -> (commit, page reads)
    "small": (0.0, (0.6, 0.8, 1.0, 1.2)),
    "large": (0.0, (0.65, 1.1)),
}
BATCH = 10
MALFORMED_SHARE = 0.1
# rows preloaded before the run: ``large`` is past the engine's
# 16,384-row append-mirror cap
PRELOAD = {"small": 0, "large": 17_000}
# Warm-up, by operation count: WARMUP_COMMITS closed-loop commits (the
# cold path, the malformed batches and the other reader calls), then
# WARMUP_FRAMES untimed frames of the window's own schedule.  With only
# the closed-loop part, the window's first frame ran 10-45 % above its
# later ones.  The small stream must stay under the engine's 256-event
# snapshot cadence through the window, or one commit in the window pays
# for a full persist: 8 warm-up commits (7 accepted), two lead frames
# and six window frames add 150 events.
WARMUP_COMMITS = 8
WARMUP_FRAMES = 2
WARMUP_READS = 4  # read slots
DRAIN_TIMEOUT_S = 60.0
PAGE = 50  # rows per messages page
STREAM = "did:plc:chat"
TOKENS = {"tok-writer": "did:plc:writer", "tok-reader": "did:plc:reader"}
# warm-up read slots send the latest ``messages`` page followed at once by
# one of the other reader calls, in turn; window read slots send the page
# only, so the window keeps its headroom
OTHER_READS = ("message_stats", "my_unread", "marker")
# server layer figures kept in the run's details, not reported as
# metrics: no persist falls in the window by design, and ``large`` never
# reaches ``LocalEval.run_readonly`` (its reads bypass the mirror), so its
# read-only time would be a constant zero
DETAIL_ONLY = ("stream.persists_in_window", "localexec.readonly_ms", "localexec.readonly_calls")

# socket.io packet types
CONNECT, EVENT, ACK = 0, 2, 3


# -- a minimal non-blocking socket.io client ----------------------------------


class WireConn:
    """One websocket connection: the engine's handshake and masked frame
    writer, plus an incremental frame parser for reads, so ``select``
    sees every byte and a partial frame never blocks the generator."""

    def __init__(self, name: str, port: int, token: str | None):
        from leaf_spark import msgpack_codec
        from leaf_spark import websocket as ws

        self.codec = msgpack_codec
        self.name = name
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.fs = ws.client_handshake(self.sock, f"127.0.0.1:{port}",
                                      "/socket.io/?EIO=4&transport=websocket")
        # bytes the handshake read past the 101 response (the engine.io
        # open packet may ride right behind it)
        self.buf = bytearray(self.fs._buf)
        self.next_id = 0
        self.pending: dict[int, object] = {}  # packet id -> call
        self._send_packet({"type": CONNECT, "nsp": "/", "data": {"token": token} if token else {}})
        self.connected = False

    def send_frame(self, opcode: int, payload: bytes) -> None:
        self.fs.write_frame(opcode, payload, mask=True)

    def _send_packet(self, pkt: dict) -> None:
        self.send_frame(0x2, self.codec.pack(pkt))

    def call(self, call, endpoint: str, args: dict) -> None:
        from leaf_spark import drisl

        self.next_id += 1
        self.pending[self.next_id] = call
        self._send_packet({"type": EVENT, "nsp": "/", "id": self.next_id,
                           "data": [endpoint, drisl.encode(args)]})

    def read(self) -> list[tuple[int, bytes]]:
        """Receive what is there and return every complete frame."""
        chunk = self.sock.recv(1 << 16)
        if not chunk:
            raise ConnectionError(f"{self.name}: server closed the connection")
        self.buf += chunk
        frames = []
        while True:
            b = self.buf
            if len(b) < 2:
                break
            op, ln, pos = b[0] & 0x0F, b[1] & 0x7F, 2
            if ln == 126:
                if len(b) < 4:
                    break
                ln, pos = struct.unpack(">H", b[2:4])[0], 4
            elif ln == 127:
                if len(b) < 10:
                    break
                ln, pos = struct.unpack(">Q", b[2:10])[0], 10
            if len(b) < pos + ln:
                break
            frames.append((op, bytes(b[pos:pos + ln])))
            del self.buf[:pos + ln]
        return frames

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


class Call:
    __slots__ = ("conn", "kind", "endpoint", "args", "due", "sent", "acked",
                 "result", "expect_ok", "meta", "bench_id")

    def __init__(self, conn, kind, endpoint, args, due, expect_ok=True, meta=None):
        self.conn, self.kind = conn, kind
        self.endpoint, self.args, self.due = endpoint, args, due
        self.expect_ok, self.meta = expect_ok, meta or {}
        self.sent = self.acked = None
        self.result = None
        self.bench_id = None


# -- schedule -----------------------------------------------------------------


def _batch(rng: random.Random, k: int, malformed: bool, at: int):
    payloads, contents = [], []
    bad = rng.randrange(BATCH) if malformed else -1
    for i in range(BATCH):
        if i == bad:
            payloads.append(M.malformed_payload(at + i))
            contents.append(None)
        else:
            c = f"m-{k}-{i}-{rng.randrange(10**9)}"
            payloads.append(M.chat_payload(c, at + i))
            contents.append(c)
    return payloads, contents


def plan(rng: random.Random, workload: str, seconds: float, size: float) -> dict:
    """Closed-loop warm-up, lead-frame and timed-window calls as (conn,
    kind, due offset from the window's start, payloads, contents, expect
    ok); fixed counts for a given ``seconds``.  The offsets keep each read
    between two commits and after the previous commit's push."""
    calls = {"warm": [], "window": []}
    counter = 0
    stretch = 1.0 / max(size, 0.25)

    def writes(n, offset, period, phase):
        # a fixed share of the warm-up batches is malformed, at seeded
        # positions, so every run rejects the same batches; the window's
        # batches are all valid, so every one is a latency sample
        nonlocal counter
        bad_at = set()
        if phase == "warm":
            bad_at = set(rng.sample(range(n), max(1, round(n * MALFORMED_SHARE))))
        for k in range(n):
            counter += 1
            at = 1_700_000_000 + counter * BATCH
            payloads, contents = _batch(rng, counter, k in bad_at, at)
            calls[phase].append(("writer", "commit", offset + k * period,
                                 payloads, contents, k not in bad_at))

    def reads(n, offsets, period, phase):
        for j in range(n):
            for off in offsets:
                due = off + j * period
                calls[phase].append(("reader", "messages", due, None, None, True))
            if phase == "warm":
                calls[phase].append(("reader", OTHER_READS[j % len(OTHER_READS)],
                                     due, None, None, True))

    writes(max(2, int(WARMUP_COMMITS * size)), 0.0, 0.0, "warm")
    reads(max(2, int(WARMUP_READS * size)), (0.0,), 0.0, "warm")
    # the lead frames come first, at negative offsets from the window's start
    frame = FRAME_S * stretch
    frames = max(2, int(seconds / frame))
    lead_s = WARMUP_FRAMES * frame
    w_off, r_offs = OFFSETS[workload]
    writes(WARMUP_FRAMES + frames, w_off * stretch - lead_s, frame, "window")
    reads(WARMUP_FRAMES + frames, tuple(r * stretch - lead_s for r in r_offs), frame, "window")
    timed = sorted(calls["window"], key=lambda c: c[2])
    return {
        "warm": calls["warm"],
        "lead": [c for c in timed if c[2] < 0],
        "window": [c for c in timed if c[2] >= 0],
        "lead_s": lead_s,
        "frames": frames,
        "preload": max(200, int(PRELOAD[workload] * size)) if PRELOAD[workload] else 0,
    }


# -- the event loop ---------------------------------------------------------


class Driver:
    def __init__(self, conns: dict, preload: int, trace: bool):
        self.conns = conns
        self.by_sock = {c.sock: c for c in conns.values()}
        self.pushes = []  # (t, [[idx, content], ...] or None for an error)
        self.latest = preload  # highest idx acknowledged
        self.trace = trace
        self.seq = 0

    def send(self, call: Call, now: float) -> None:
        args = dict(call.args)
        if self.trace:
            self.seq += 1
            call.bench_id = f"{call.conn}-{self.seq}"
            args["benchId"] = call.bench_id
        if call.kind == "marker":
            # mark everything acknowledged so far as read
            call.meta["last_read"] = self.latest
            args["payloads"] = [M.marker_payload(self.latest)]
        if call.kind in ("messages", "message_stats", "my_unread"):
            call.meta["latest_at_send"] = self.latest
        if call.kind == "messages":
            # the latest page, as a chat client would fetch it
            start = max(1, self.latest - PAGE + 1)
            call.meta["start"] = start
            args["query"] = dict(args["query"], start=start)
        call.sent = now
        self.conns[call.conn].call(call, call.endpoint, args)

    def pump(self, timeout: float) -> None:
        from leaf_spark import drisl

        r, _, _ = select.select(list(self.by_sock), [], [], max(0.0, timeout))
        now = time.perf_counter()
        for s in r:
            conn = self.by_sock[s]
            for op, payload in conn.read():
                if op == 0x1:  # engine.io text: ping -> pong
                    if payload[:1] == b"2":
                        conn.send_frame(0x1, b"3" + payload[1:])
                    continue
                if op != 0x2:
                    continue
                pkt = conn.codec.unpack(payload)
                t = pkt.get("type")
                if t == CONNECT:
                    conn.connected = True
                elif t == ACK:
                    call = conn.pending.pop(pkt.get("id"), None)
                    if call is not None:
                        call.acked = now
                        call.result = drisl.decode(bytes(pkt["data"][0]))
                        if call.kind == "commit" and "Ok" in call.result:
                            self.latest = max(self.latest, call.result["Ok"]["latestEvent"])
                elif t == EVENT:
                    data = pkt.get("data") or []
                    if data and data[0] == "stream/subscription_response":
                        resp = drisl.decode(bytes(data[1]))["response"]
                        rows = resp["Ok"]["rows"] if "Ok" in resp else None
                        self.pushes.append(
                            (now, None if rows is None else
                             [[r["idx"]["value"], r["content"]["value"]] for r in rows]))

    def run_closed(self, calls: list, deadline: float) -> None:
        """Each connection sends its next call when the previous is acked."""
        queues: dict[str, list] = {}
        for c in calls:
            queues.setdefault(c.conn, []).append(c)
        inflight: dict[str, Call] = {}
        while time.perf_counter() < deadline:
            now = time.perf_counter()
            for name, q in queues.items():
                cur = inflight.get(name)
                if (cur is None or cur.acked is not None) and q:
                    inflight[name] = q.pop(0)
                    self.send(inflight[name], now)
            if not any(queues.values()) and all(c.acked for c in inflight.values()):
                return
            self.pump(0.05)
        raise TimeoutError("warm-up did not finish")

    def run_open(self, calls: list, t0: float) -> None:
        i = 0
        while i < len(calls):
            now = time.perf_counter()
            while i < len(calls) and t0 + calls[i].due <= now:
                self.send(calls[i], now)
                i += 1
            if i < len(calls):
                self.pump(t0 + calls[i].due - time.perf_counter())

    def drain(self, calls: list, deadline: float, want_push: int = 0) -> bool:
        while time.perf_counter() < deadline:
            if all(c.acked for c in calls) and self.pushed_upto() >= want_push:
                return True
            self.pump(0.05)
        return False

    def pushed_upto(self) -> int:
        return max((rows[-1][0] for _, rows in self.pushes if rows), default=0)


# -- run -----------------------------------------------------------------------


def drive(args, clock, out: Outcome, chat: dict, port: int, conns: dict, proc,
          setup: dict) -> None:
    """Run the stream part against the engine process listening on
    ``port``: connect, subscribe, warm up, run the window, stop the engine
    and check what it returns."""
    tok = {v: k for k, v in TOKENS.items()}
    conns["writer"] = WireConn("writer", port, tok["did:plc:writer"])
    conns["reader"] = WireConn("reader", port, tok["did:plc:reader"])
    conns["sub"] = WireConn("sub", port, None)
    drv = Driver(conns, chat["preload"], bool(args.trace))
    while not all(c.connected for c in conns.values()):
        drv.pump(0.1)

    def mk(spec):
        conn, kind, due, payloads, contents, ok = spec
        if kind == "commit":
            return Call(conn, kind, "stream/event_batch",
                        {"streamDid": STREAM, "payloads": payloads}, due, ok,
                        {"contents": contents})
        if kind == "marker":
            return Call(conn, kind, "stream/state_event_batch",
                        {"streamDid": STREAM, "payloads": []}, due)
        q = {"name": kind, "params": {}, "limit": PAGE}
        return Call(conn, kind, "stream/query", {"streamDid": STREAM, "query": q}, due)

    # the subscription first, so every committed event is pushed
    sub = Call("sub", "subscribe", "stream/subscribe_events",
               {"streamDid": STREAM, "query": {"name": "messages", "params": {}, "limit": 1000}},
               0.0)
    drv.run_closed([sub], time.perf_counter() + 60)
    if "Ok" not in sub.result:
        raise RuntimeError(f"subscribe failed: {sub.result}")

    warm = [mk(s) for s in chat["warm"]]
    t_w = time.perf_counter()
    drv.run_closed(warm, time.perf_counter() + 120)
    # let the warm-up's last subscription push land before the window
    if not drv.drain(warm, time.perf_counter() + DRAIN_TIMEOUT_S, drv.latest):
        raise TimeoutError("warm-up pushes did not arrive")
    setup["marks"].update({"connected": t_w, "lead_start": time.perf_counter()})
    lead = [mk(s) for s in chat["lead"]]
    calls = [mk(s) for s in chat["window"]]
    # the window opens once the lead frames have run; set-up is everything
    # before it except the catalog part's timed passes
    setup_s = clock.setup_s() + chat["lead_s"] - setup["catalog"]["window_s"]
    t0 = time.perf_counter() + chat["lead_s"]
    warmup_s = t0 - t_w
    drv.run_open(lead + calls, t0)
    window_end = t0 + chat["frames"] * FRAME_S / max(args.size, 0.25)
    backlog = sum(1 for c in calls if t0 + c.due <= window_end and (c.sent or 1e18) > window_end)
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    # wait for every ack, then for the push that carries the last commit
    drained = drv.drain(lead + calls, deadline) and drv.drain(lead + calls, deadline, drv.latest)
    t1 = time.perf_counter()
    out.check("drained", drained, "acks/pushes outstanding after drain timeout")

    proc.stdin.write(f"STOP {t0} {t1}\n")
    proc.stdin.flush()
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError("engine process exited without a result")
    srv = json.loads(line)
    marks = setup["marks"]
    marks.update({"window_open": t0, "drained": t1, "recovered": srv["recovered_at"]})
    out.details["marks_s"] = {k: v - clock.t0 for k, v in marks.items()}
    _check(out, args, warm + lead + calls, drv, srv, chat["preload"])
    _metrics(out, args, calls, drv, t0, setup_s, warmup_s, backlog, srv, setup)


def _expected(all_calls, preload: int) -> list:
    exp = [[i + 1, *M.preload_row(i)[:2]] for i in range(preload)]
    for c in all_calls:
        if c.kind != "commit" or not c.result or "Ok" not in c.result:
            continue
        last = c.result["Ok"]["latestEvent"]
        for i, content in enumerate(c.meta["contents"]):
            exp.append([last - BATCH + 1 + i, TOKENS["tok-writer"], content])
    return sorted(exp)


def _check(out, args, all_calls, drv, srv, preload: int) -> None:
    exp = _expected(all_calls, preload)
    if args.wrong_expectation:
        exp = exp[1:]
    for c in all_calls:
        out.attempted += 1
        ok = c.result is not None and (("Ok" in c.result) == c.expect_ok)
        if ok and c.kind in ("messages", "message_stats", "my_unread"):
            ok = _query_ok(c, exp)
        if not ok:
            out.failed += 1
            out.check(f"call:{c.kind}", False, str(c.result)[:200])
    live = srv["messages"]
    out.check("messages==accepted", live == exp, f"{len(live)} rows vs {len(exp)} accepted")
    pushed = [row for _, rows in drv.pushes if rows for row in rows]
    want = [[i, c] for i, _, c in exp if i > preload]
    out.check("pushes exactly once in idx order", pushed == want,
              f"{len(pushed)} pushed vs {len(want)} accepted")
    errs = sum(1 for _, rows in drv.pushes if rows is None)
    out.check("no push errors", not errs, f"{errs} error pushes")
    for name, ok, detail in srv["checks"]:
        out.check(name, ok, detail)


def _query_ok(c: Call, exp_rows: list) -> bool:
    from leaf_spark.types import SqlValue

    rows = [{k: SqlValue.from_wire(v).value for k, v in r.items()} for r in c.result["Ok"]["rows"]]
    lo = c.meta.get("latest_at_send", 0)
    total = len(exp_rows)
    if c.kind == "messages":
        # a contiguous page from ``start`` holding at least every row
        # acknowledged before the call was sent
        start = c.meta["start"]
        want = [[i, u, m] for i, u, m in exp_rows if i >= start][: len(rows)]
        got = [[r["idx"], r["sender"], r["content"]] for r in rows]
        return got == want and len(rows) >= min(PAGE, lo - start + 1)
    if c.kind == "message_stats":
        n = sum(r["n"] for r in rows)
        return lo <= n <= total
    if c.kind == "my_unread":
        return len(rows) == 1 and 0 <= rows[0]["unread"] <= total
    return True


def _metrics(out, args, calls, drv, t0, setup_s, warmup_s, backlog, srv, setup) -> None:
    def since_due(c, t):
        return (t - (t0 + c.due)) * 1000.0

    commits = [c for c in calls if c.kind == "commit" and c.expect_ok and c.acked]
    commit_ms = [since_due(c, c.acked) for c in commits]
    page_ms = [since_due(c, c.acked) for c in calls if c.kind == "messages" and c.acked]
    push_ms = []
    for c in commits:
        last = c.result["Ok"]["latestEvent"]
        got = [t for t, rows in drv.pushes if rows and any(r[0] == last for r in rows)]
        if got:
            push_ms.append(since_due(c, got[0]))
    rec = srv["recovery"]
    # a median of an even count is the mean of the two middle samples.
    # The page read (~4 ms on the mirror) and the reopen (~0.07 s) are in
    # the details only: their medians spread 25-33 % across runs of the
    # same code, wider than any bound, so a regression could not be told
    # from noise
    out.metric("setup_s", setup_s, "s")
    out.metric("commit_p50_ms", median(commit_ms), "ms")
    out.metric("push_p50_ms", median(push_ms), "ms")
    late = [(c.sent - (t0 + c.due)) * 1000.0 for c in calls if c.sent]
    out.details.update({
        "engine": {k: v for k, v in setup.items() if k != "catalog"},
        "stream_warmup_s": warmup_s, "frames": len(commits), "calls": len(calls),
        "commit_ms": latency_stats(commit_ms), "page_ms": latency_stats(page_ms),
        "push_ms": latency_stats(push_ms), "recovery": rec,
        "gen_late_ms": latency_stats(late), "gen_backlog": backlog,
    })
    if not args.trace:
        return
    for name, (v, unit) in srv["layers"].items():
        if name in DETAIL_ONLY:
            out.details[name] = v
        else:
            out.metric(name, v, unit)
    out.metric("stream.replay_s", rec["replay_s"], "s")
    out.metric("spark.replay_jobs", rec["replay_jobs"], "count")
    out.metric("stream.reopen_s", rec["reopen_s"], "s")
    out.metric("stream.persist_ms", rec["persist_s"] * 1000.0, "ms")
    out.metric("stream.snapshot_mb", rec["snapshot_mb"], "MB")
    out.metric("stream.log_files", rec["log_files"], "count")
    handles = srv.get("handles", {})
    transport, self_ms = [], []
    for c in calls:
        h = handles.get(c.bench_id)
        if h is None or c.acked is None:
            continue
        self_ms.append(h[1])
        if c.kind == "messages":
            transport.append((c.acked - c.sent) * 1000.0 - h[0])
    out.metric("socketio.transport_ms", median(transport), "ms")
    out.metric("server.handle_self_ms", median(self_ms), "ms")
    out.metric("gen.late_p99_ms", pct(late, 99), "ms")
    out.metric("session.start_s", setup["session_start_s"], "s")
    out.metric("session.warmup_s", setup["catalog"]["warmup_s"] + warmup_s, "s")
    out.details["dropped_metrics"] = srv.get("dropped", {})
