"""Load generator for the `forward_edge` workload: one process, one asyncio
loop, a few closed-loop connections to the fluent-forward edge daemon.

Each connection sends its pre-encoded frames one at a time and waits for
the `{"ack": <chunk>}` reply before sending the next (closed loop: a slow
server receives less load, never a growing queue). An ack that does not
come within ACK_TIMEOUT_S, or a connection the edge closes, ends that
connection: its remaining chunks count as unacked. The process always
prints one JSON object: chunks planned and acked, per-frame ack latencies
by mode, and the wall from the first send to the last ack.

    python3 perfbench/edge_load.py <port> <plan.msgpack>

The plan is written by run.py: {"conns": [[[chunk, mode, n_events,
frame], ...], ...]}.
"""

from __future__ import annotations

import asyncio
import json
import sys
import time

import msgpack_lite as mp

ACK_TIMEOUT_S = 20.0


async def _read_ack(reader, buf: bytearray):
    while True:
        try:
            ack, used = mp.unpack_from(buf, 0)
            del buf[:used]
            return ack
        except mp.Truncated:
            more = await reader.read(65536)
            if not more:
                raise ConnectionError("edge closed the connection before the ack")
            buf += more


async def _conn(port: int, frames: list, report: dict) -> None:
    writer = None
    try:
        reader, writer = await asyncio.wait_for(
            asyncio.open_connection("127.0.0.1", port), ACK_TIMEOUT_S)
        buf = bytearray()
        for chunk, mode, n_events, frame in frames:
            t0 = time.perf_counter()
            writer.write(frame)
            await writer.drain()
            ack = await asyncio.wait_for(_read_ack(reader, buf), ACK_TIMEOUT_S)
            dt = time.perf_counter() - t0
            ok = isinstance(ack, dict) and ack.get("ack") == chunk
            report["acked" if ok else "bad_ack"] += 1
            report["lat_ms"].setdefault(mode, []).append(dt * 1e3)
            report["events"][mode] = report["events"].get(mode, 0) + n_events
            report["bytes_in"] += len(frame)
    except (OSError, asyncio.TimeoutError, ValueError) as e:
        report["errors"].append(f"{type(e).__name__}: {e}")
    finally:
        if writer is not None:
            writer.close()
            try:
                await writer.wait_closed()
            except OSError:
                pass


async def main(port: int, plan_path: str) -> dict:
    with open(plan_path, "rb") as f:
        plan = mp.unpack_from(f.read(), 0)[0]
    report = {"chunks": sum(len(c) for c in plan["conns"]), "acked": 0, "bad_ack": 0,
              "errors": [], "lat_ms": {}, "events": {}, "bytes_in": 0}
    t0 = time.perf_counter()
    await asyncio.gather(*[_conn(port, frames, report) for frames in plan["conns"]])
    report["wall_s"] = time.perf_counter() - t0
    return report


if __name__ == "__main__":
    print(json.dumps(asyncio.run(main(int(sys.argv[1]), sys.argv[2]))))
