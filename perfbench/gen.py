"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from a seed, together with
the answer the program must give on it (the planted anomalies). The
program only ever receives the files.

Run as a script, this module is the open-loop file generator of the
``stream_http`` workload: it writes one file of HTTP log lines per
period on a fixed schedule, whatever the consumer is doing, until a
stop file appears, then writes a manifest with each file's due time,
actual write time and row count.

    python3 perfbench/gen.py stream --seed 1 --out DIR --manifest M.json \
        --stop STOPFILE --start EPOCH_S --period 2.0 --lines 400
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

# Event time of file k starts at EPOCH + k * FILE_SPAN_S; with a
# FILE_SPAN_S-wide tumbling window every file is exactly one window,
# so the alerts a file plants are known without simulating Spark.
EPOCH = 1767225600  # 2026-01-01T00:00:00Z, a multiple of every window
FILE_SPAN_S = 10
WINDOW = f"{FILE_SPAN_S} seconds"
HARD_LIMIT = 100
MAX_ERRORS = 30
FLOOD_REQUESTS = 150  # > HARD_LIMIT in one window
ERROR_REQUESTS = 40  # > MAX_ERRORS 4xx in one window, < HARD_LIMIT
GLB_TYPE = "type.googleapis.com/google.cloud.loadbalancing.type.LoadBalancerLogEntry"


def _iso(ts: float) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(int(ts))) + (
        ".%03dZ" % int(round((ts % 1) * 1000))
    )


def glb_line(ts: float, ip: str, status: int, path: str, ua: str) -> str:
    return json.dumps({
        "timestamp": _iso(ts),
        "resource": {"labels": {"project_id": "bench"}},
        "jsonPayload": {"@type": GLB_TYPE},
        "httpRequest": {
            "remoteIp": ip,
            "requestMethod": "GET",
            "requestUrl": f"https://svc.example.com{path}",
            "status": status,
            "userAgent": ua,
        },
    })


def _background_ip(rng: random.Random) -> str:
    # 2^16 addresses: at a few hundred lines per window no address
    # comes near HARD_LIMIT or MAX_ERRORS
    return f"10.{rng.randrange(16)}.{rng.randrange(64)}.{rng.randrange(64)}"


def stream_file(seed: int, k: int, lines: int):
    """Lines of stream file ``k`` and the alerts it plants.

    Returns (lines, planted) where planted is a set of
    (subcategory, source_address, window_start_epoch_s). Files with
    k % 3 == 1 plant a flood (hard_limit), k % 3 == 2 an error burst
    (error_rate); planted addresses come from TEST-NET ranges that
    background traffic never uses. Planted lines replace background
    lines, so every file has the same size and every micro-batch the
    same rows."""
    rng = random.Random(seed * 1_000_003 + k)
    start = EPOCH + k * FILE_SPAN_S
    out, planted = [], set()
    if k % 3 == 1:
        ip = f"192.0.2.{rng.randrange(1, 255)}"
        out += [glb_line(start + rng.random() * FILE_SPAN_S, ip, 200, "/login",
                         "flood/1.0") for _ in range(FLOOD_REQUESTS)]
        planted.add(("hard_limit", ip, start))
    elif k % 3 == 2:
        ip = f"198.51.100.{rng.randrange(1, 255)}"
        out += [glb_line(start + rng.random() * FILE_SPAN_S, ip, 404, "/admin",
                         "scan/1.0") for _ in range(ERROR_REQUESTS)]
        planted.add(("error_rate", ip, start))
    while len(out) < lines:
        status = 404 if rng.random() < 0.05 else 200
        out.append(glb_line(start + rng.random() * FILE_SPAN_S,
                            _background_ip(rng), status,
                            f"/p{rng.randrange(50)}", "Mozilla/5.0"))
    rng.shuffle(out)
    return out, planted


def corpus(seed: int, n_docs: int):
    """Seeded document corpus with known duplicate structure.

    Returns (ids, texts). About 1 % of docs are one identical
    boilerplate text (the pile); near-duplicate clusters of 3-5 docs
    each are one base text with a different single word replaced per
    member by an out-of-vocabulary word; everything else is random text over a 5000-word
    vocabulary, so unrelated docs rarely share a word 3-gram."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(5000)]
    pile_text = " ".join(rng.choice(vocab) for _ in range(60))
    ids, texts = [], []
    while len(ids) < n_docs:
        r = rng.random()
        if r < 0.01:
            ids.append(len(ids))
            texts.append(pile_text)
            continue
        base = [rng.choice(vocab) for _ in range(rng.randrange(40, 80))]
        if r < 0.06 and len(ids) + 5 <= n_docs:
            for spot in rng.sample(range(len(base)), rng.randrange(3, 6)):
                variant = list(base)
                # a word outside the vocabulary keeps members distinct
                variant[spot] = f"x{rng.randrange(5000)}"
                ids.append(len(ids))
                texts.append(" ".join(variant))
        else:
            ids.append(len(ids))
            texts.append(" ".join(base))
    return ids, texts


def _run_stream(args) -> None:
    os.makedirs(args.out, exist_ok=True)
    staging = args.out.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    t0 = args.start
    files = []
    k = 0
    parent = os.getppid()
    # stop on the stop file, or when the benchmark that started us is gone
    while not os.path.exists(args.stop) and os.getppid() == parent:
        due = t0 + k * args.period
        delay = due - time.time()
        if delay > 0:
            time.sleep(min(delay, 0.1))  # short naps keep the stop prompt
            continue
        lines, planted = stream_file(args.seed, k, args.lines)
        name = f"f{k:06d}.log"
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        # rename is atomic: the file source never sees a partial file
        os.rename(tmp, os.path.join(args.out, name))
        files.append({"k": k, "name": name, "due": due, "written": time.time(),
                      "rows": len(lines),
                      "planted": sorted(list(p) for p in planted)})
        k += 1
    with open(args.manifest + ".tmp", "w") as f:
        json.dump({"files": files}, f)
    os.rename(args.manifest + ".tmp", args.manifest)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--manifest", required=True)
    s.add_argument("--stop", required=True)
    s.add_argument("--start", type=float, required=True,
                   help="epoch seconds at which file 0 is due")
    s.add_argument("--period", type=float, default=1.0)
    s.add_argument("--lines", type=int, default=400)
    args = ap.parse_args()
    _run_stream(args)


if __name__ == "__main__":
    main()
