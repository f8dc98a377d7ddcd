#!/usr/bin/env python3
"""Open-loop MQTT 3.1.1 load generator that plays the broker side.

The bridge under test subscribes to this process as if it were a broker.
The generator answers CONNECT, SUBSCRIBE and PINGREQ and publishes a seeded
QoS 0 schedule to the one subscriber that carries the load.

Frames are encoded here, not with the program's codec, so a codec change
cannot move the offered load.  Each payload carries its `seq` and its due
time in epoch microseconds (`due_us`).  The schedule has three phases:

  warm   Poisson arrivals, not measured: first at the higher warm-up rate,
         which warms the JIT in fewer seconds, then at the offered rate, so
         the trigger loop settles before the open phase;
  open   Poisson arrivals at the offered rate, latencies are taken here;
  burst  a fixed number of messages written as fast as the socket takes them.

The first `setups - 1` subscribers are the harness's set-up probes; the
load goes to subscriber number `setups`.  If the load connection drops, the
next subscriber takes over; at QoS 0, frames the old one had not taken are lost.

Usage (normally started by run.py):
  loadgen.py --workload NAME --seed N --open-s S --setups K --done FILE --report FILE

The listening port is printed on the first stdout line.  The generator
writes FILE `--done` when the last frame has been written, and `--report`
when its stdin closes, then exits.
"""
import argparse
import json
import os
import random
import select
import socket
import struct
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LEAD_US = 1_500_000  # time between the load subscriber's SUBACK and the first due time


def now_us():
    return time.time_ns() // 1000


def varint(n):
    out = bytearray()
    while True:
        d = n % 128
        n //= 128
        out.append(d | 0x80 if n else d)
        if not n:
            return bytes(out)


def publish_frame(topic, payload):
    """A QoS 0 PUBLISH frame."""
    t = topic.encode()
    return b"\x30" + varint(2 + len(t) + len(payload)) + struct.pack(">H", len(t)) + t + payload


def load_workload(name):
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)["workloads"]
    if name not in cfg or cfg[name]["kind"] != "bridge":
        raise SystemExit(f"unknown bridge workload: {name}")
    return cfg[name]


def build_schedule(w, seed, open_s):
    """The seeded message list: (offset_us, seq, topic_index, malformed, fields, phase).

    `fields` are the payload's numeric fields; run.py recomputes the
    expected transform output from them.  Topics are drawn uniformly.
    Offsets are relative to the load start; burst messages share the burst
    start as their due time.
    """
    rng = random.Random(seed)
    n_topics = w["topics"]

    def pick_topic():
        return rng.randrange(n_topics)

    def fields():
        return (rng.randrange(100), rng.randrange(10), rng.randrange(10))

    msgs = []
    rate = w["rate_msgs_s"]
    fast_us = int(w["warmup_fast_s"] * 1e6)
    warm_us = int(w["warmup_s"] * 1e6)
    open_end = warm_us + int(open_s * 1e6)
    t = 0.0
    seq = 0
    while True:
        t += rng.expovariate(w["warmup_rate_msgs_s"] if t < fast_us else rate) * 1e6
        if t >= open_end:
            break
        phase = "warm" if t < warm_us else "open"
        msgs.append((int(t), seq, pick_topic(), rng.random() < w["malformed"], fields(), phase))
        seq += 1
    burst_at = open_end + int(w["settle_s"] * 1e6)
    for i in range(w["burst"]):
        # the last burst message is always valid: its sink-visible time ends the burst
        bad = rng.random() < w["malformed"] and i < w["burst"] - 1
        msgs.append((burst_at, seq, pick_topic(), bad, fields(), "burst"))
        seq += 1
    return msgs, warm_us, open_end, burst_at


def topic_name(w, i):
    return w["topic_pattern"].format(i=i)


def payload(seq, due, flds, bad):
    k, sk, dk = flds
    s = f'{{"seq":{seq},"due_us":{due},"k":{k},"sub":{{"k":{sk},"deep":{{"k":{dk}}}}}}}'
    # malformed: the JSON document is cut off before its end
    return (s[: len(s) // 2] if bad else s).encode()


class Conn:
    def __init__(self, sock):
        self.sock = sock
        self.inbuf = bytearray()
        self.out = bytearray()
        self.closed = False


class Generator:
    def __init__(self, w, seed, open_s, setups):
        self.w = w
        self.setups = setups
        self.msgs, self.warm_us, self.open_end, self.burst_at = build_schedule(w, seed, open_s)
        self.listener = socket.socket()
        self.listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(8)
        self.listener.setblocking(False)
        self.conns = []
        self.load = None          # the connection that carries the load
        self.connects = 0
        self.subscribes = 0
        self.t0 = None            # load start, epoch µs
        self.frames = []
        self.next_msg = 0         # next schedule index to hand to the socket
        self.stream_bytes = 0     # bytes handed to the load connection so far
        self.pending_ends = []    # (stream offset of a frame's end, schedule index)
        self.pending_head = 0
        self.sent_at = [0] * len(self.msgs)
        self.timeline = []        # (epoch µs, messages fully written)
        self.written = 0
        self.blocked_us = 0
        self.done_written = False

    # ---- protocol --------------------------------------------------------

    def handle_packets(self, c):
        buf = c.inbuf
        while len(buf) >= 2:
            mult, n, i = 1, 0, 1
            while True:
                if i >= len(buf):
                    return
                d = buf[i]
                n += (d & 0x7F) * mult
                mult *= 128
                i += 1
                if not d & 0x80:
                    break
            if len(buf) < i + n:
                return
            kind, body = buf[0] >> 4, bytes(buf[i:i + n])
            del buf[: i + n]
            if kind == 1:      # CONNECT
                self.connects += 1
                c.out += b"\x20\x02\x00\x00"
            elif kind == 8:    # SUBSCRIBE: grant the requested QoS per filter
                pid, o, granted = body[:2], 2, bytearray()
                while o < len(body):
                    ln = struct.unpack(">H", body[o:o + 2])[0]
                    granted.append(body[o + 2 + ln] & 3)
                    o += 3 + ln
                c.out += b"\x90" + varint(2 + len(granted)) + pid + granted
                self.subscribes += 1
                if self.subscribes >= self.setups:
                    self.attach_load(c)
            elif kind == 12:   # PINGREQ
                c.out += b"\xd0\x00"
            elif kind == 14:   # DISCONNECT
                c.closed = True

    def attach_load(self, c):
        self.load = c
        if self.t0 is None:
            # encode every frame once, before the clock starts
            start = now_us() + LEAD_US
            for off, seq, ti, bad, flds, _ in self.msgs:
                self.frames.append(publish_frame(topic_name(self.w, ti), payload(seq, start + off, flds, bad)))
            if now_us() > start:
                raise SystemExit("encoding the schedule took longer than its lead time")
            self.t0 = start
        self.stream_bytes = len(c.out)
        self.pending_ends = []
        self.pending_head = 0

    # ---- sending ---------------------------------------------------------

    def enqueue_due(self, now):
        """Hand every frame that is due to the load connection's buffer."""
        c = self.load
        while self.next_msg < len(self.msgs):
            idx = self.next_msg
            if self.t0 + self.msgs[idx][0] > now:
                return
            frame = self.frames[idx]
            c.out += frame
            self.stream_bytes += len(frame)
            self.pending_ends.append((self.stream_bytes, idx))
            self.next_msg += 1

    def flush(self, c):
        try:
            n = c.sock.send(c.out)
        except BlockingIOError:
            return
        except OSError:
            c.closed = True
            return
        del c.out[:n]
        if c is self.load:
            done_upto = self.stream_bytes - len(c.out)
            t = now_us()
            before = self.written
            while self.pending_head < len(self.pending_ends) and \
                    self.pending_ends[self.pending_head][0] <= done_upto:
                self.sent_at[self.pending_ends[self.pending_head][1]] = t
                self.pending_head += 1
                self.written += 1
            if self.pending_head > 4096:
                del self.pending_ends[: self.pending_head]
                self.pending_head = 0
            if self.written != before:
                self.timeline.append((t, self.written))

    def run(self, done_path, report_path):
        stdin_open = True
        while True:
            now = now_us()
            if self.load is not None and not self.load.closed and self.t0 is not None:
                self.enqueue_due(now)
            if not self.done_written and self.t0 is not None and self.next_msg == len(self.msgs) \
                    and self.load is not None and not self.load.out:
                self.write_done(done_path)
            rlist = [self.listener] + [c.sock for c in self.conns]
            if stdin_open:
                rlist.append(sys.stdin)
            wlist = [c.sock for c in self.conns if c.out]
            load_waiting = self.load is not None and self.load.out
            if wlist:
                timeout = 0.05
            elif self.t0 is not None and self.next_msg < len(self.msgs):
                timeout = max(0.0, (self.t0 + self.msgs[self.next_msg][0] - now) / 1e6)
            else:
                timeout = 0.2
            t_sel = now_us()
            r, _, _ = select.select(rlist, wlist, [], timeout)
            if load_waiting:
                self.blocked_us += now_us() - t_sel
            for s in r:
                if s is self.listener:
                    sock, _ = self.listener.accept()
                    sock.setblocking(False)
                    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    self.conns.append(Conn(sock))
                elif s is sys.stdin:
                    if not os.read(sys.stdin.fileno(), 4096):
                        stdin_open = False
                else:
                    c = next(c for c in self.conns if c.sock is s)
                    try:
                        data = s.recv(65536)
                    except OSError:
                        data = b""
                    if not data:
                        c.closed = True
                    else:
                        c.inbuf += data
                        self.handle_packets(c)
            for c in self.conns:
                if c.out and not c.closed:
                    self.flush(c)
            for c in [c for c in self.conns if c.closed]:
                c.sock.close()
                self.conns.remove(c)
                if c is self.load:
                    self.load = None
            if not stdin_open:
                break
        self.write_report(report_path)

    def write_done(self, path):
        self.done_written = True
        valid = sum(1 for m in self.msgs if not m[3])
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"valid": valid, "malformed": len(self.msgs) - valid}, f)
        os.replace(tmp, path)

    def write_report(self, path):
        lates = sorted(self.sent_at[i] - (self.t0 + m[0])
                       for i, m in enumerate(self.msgs) if m[5] == "open" and self.sent_at[i])
        burst = [i for i, m in enumerate(self.msgs) if m[5] == "burst"]
        burst_first = min((self.sent_at[i] for i in burst if self.sent_at[i]), default=0)
        # thin the send timeline to at most one point per millisecond
        tl, last = [], -1
        for t, n in self.timeline:
            if t // 1000 != last:
                tl.append([t, n])
                last = t // 1000
            else:
                tl[-1][1] = n
        rep = {
            "t0_us": self.t0,
            "warm_end_us": self.t0 + self.warm_us,
            "open_end_us": self.t0 + self.open_end,
            "burst_at_us": self.t0 + self.burst_at,
            "burst_first_send_us": burst_first,
            "messages": len(self.msgs),
            "written": self.written,
            "connects": self.connects,
            "subscribes": self.subscribes,
            "blocked_ms": self.blocked_us / 1000.0,
            "late_p99_ms": (lates[int(0.99 * (len(lates) - 1))] / 1000.0) if lates else 0.0,
            "timeline": tl,
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rep, f)
        os.replace(tmp, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--open-s", type=float, required=True)
    ap.add_argument("--setups", type=int, default=1)
    ap.add_argument("--done", required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    g = Generator(load_workload(a.workload), a.seed, a.open_s, a.setups)
    print(g.listener.getsockname()[1], flush=True)
    g.run(a.done, a.report)


if __name__ == "__main__":
    main()
