"""Seeded, single-process generator of one bronze GHArchive day.

Writes 24 hourly `YYYY-MM-DD-H.json.gz` files in the layout the medallion
pipeline reads (`<root>/gharchive/events/YYYY-MM-DD/HH/<file>`), plus one
warm-up hour from the previous day under a separate root, so warm-up never
touches the timed day. Every valid line parses under `GhArchive.rawSchema`
(numeric ids, `created_at` inside the file's hour) and carries a discarded
`payload` object of about 1 KB, as real GHArchive events do. Repositories
and actors are Zipf-skewed. About 0.1% of lines are truncated JSON, which
the pipeline must drop.

The same (seed, events per hour) always gives the same bytes: gzip headers
carry no timestamp and all randomness comes from one seeded generator.

    python3 perfbench/gen_bronze.py <out_dir> <seed> <events_per_hour>
"""
import datetime as dt
import gzip
import io
import json
import os
import sys

import numpy as np

DAY = dt.datetime(2024, 3, 1)
WARM_HOUR = DAY - dt.timedelta(hours=1)
BASE_PATH = "gharchive/events"
MALFORMED_RATE = 0.001
N_REPOS = 200_000
N_ACTORS = 50_000

TYPES = ["PushEvent", "CreateEvent", "PullRequestEvent", "WatchEvent",
         "IssueCommentEvent", "IssuesEvent", "DeleteEvent", "ForkEvent",
         "PullRequestReviewEvent", "ReleaseEvent"]
TYPE_P = [0.50, 0.12, 0.08, 0.08, 0.07, 0.04, 0.04, 0.03, 0.02, 0.02]
WORDS = ("fix add update remove refactor test docs bump merge branch release "
         "build ci lint format typo readme config parser cache index query "
         "schema writer reader stream batch spark duckdb parquet json gzip "
         "hour day gold silver bronze lake table column row partition file "
         "error retry timeout memory thread pool lock race flaky slow fast "
         "api client server handler route auth token user repo issue pull "
         "review comment label milestone version deps security patch minor "
         "major breaking change feature support drop legacy cleanup").split()


def hour_path(root: str, hour: dt.datetime) -> str:
    """Bronze file of one hour; the file name carries the hour without a
    leading zero, the directory with one, as in GHArchive and PathLayout."""
    name = f"{hour:%Y-%m-%d}-{hour.hour}.json.gz"
    return os.path.join(root, BASE_PATH, f"{hour:%Y-%m-%d}", f"{hour:%H}", name)


def _zipf_ids(rng, a: float, n: int, size: int) -> np.ndarray:
    return (rng.zipf(a, size) - 1) % n


def _hour_lines(rng, hour: dt.datetime, n: int, first_id: int):
    """The hour's lines and how many of them are valid JSON."""
    types = rng.choice(len(TYPES), size=n, p=TYPE_P)
    repos = 1_000_000 + _zipf_ids(rng, 1.3, N_REPOS, n) * 7
    actors = 5_000 + _zipf_ids(rng, 1.6, N_ACTORS, n) * 13
    secs = np.sort(rng.integers(0, 3600, size=n))
    text_len = rng.integers(20, 100, size=n)
    bad = rng.random(n) < MALFORMED_RATE
    words = rng.integers(0, len(WORDS), size=int(text_len.sum()))
    shas = rng.bytes(20 * 3 * n).hex()
    lines, w = [], 0
    for i in range(n):
        k = int(text_len[i])
        msg = " ".join(WORDS[j] for j in words[w:w + k])
        w += k
        sha = [shas[(3 * i + j) * 40:(3 * i + j + 1) * 40] for j in range(3)]
        t, r, a = TYPES[types[i]], int(repos[i]), int(actors[i])
        repo = f"owner{r % 9973}/repo{r}"
        ts = hour + dt.timedelta(seconds=int(secs[i]))
        payload = (
            f'{{"repository_id":{r},"push_id":{first_id * 3 + i},"size":1,'
            f'"ref":"refs/heads/main","head":"{sha[0]}","before":"{sha[1]}",'
            f'"commits":[{{"sha":"{sha[2]}","author":{{"email":"u{a}@users.noreply.github.com",'
            f'"name":"user{a}"}},"message":"{msg}","distinct":true,'
            f'"url":"https://api.github.com/repos/{repo}/commits/{sha[2]}"}}]}}')
        line = (
            f'{{"id":{first_id + i},"type":"{t}",'
            f'"actor":{{"id":{a},"login":"user{a}","display_login":"user{a}",'
            f'"gravatar_id":"","url":"https://api.github.com/users/user{a}",'
            f'"avatar_url":"https://avatars.githubusercontent.com/u/{a}?"}},'
            f'"repo":{{"id":{r},"name":"{repo}","url":"https://api.github.com/repos/{repo}"}},'
            f'"payload":{payload},"public":true,"created_at":"{ts:%Y-%m-%dT%H:%M:%SZ}"}}')
        lines.append(line[:len(line) // 2] if bad[i] else line)
    return lines, int(n - bad.sum())


def _gz(lines) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=6, mtime=0) as f:
        f.write(("\n".join(lines) + "\n").encode())
    return buf.getvalue()


def hour_bytes(seed: int, hour: dt.datetime, n: int):
    """gzip bytes of one hour and its valid-line count. Each hour has its
    own generator stream, so any hour can be regenerated on its own."""
    hour_no = int((hour - WARM_HOUR).total_seconds() // 3600)
    rng = np.random.default_rng([seed, hour_no])
    first_id = 30_000_000_000 + hour_no * 10_000_000
    lines, valid = _hour_lines(rng, hour, n, first_id)
    return _gz(lines), valid, len(lines) - valid, sum(len(l) + 1 for l in lines)


def generate(out_dir: str, seed: int, n: int) -> dict:
    """Write the day and the warm-up hour into out_dir; return the manifest."""
    hours = {"warm": [WARM_HOUR], "day": [DAY + dt.timedelta(hours=h) for h in range(24)]}
    manifest = {"seed": seed, "events_per_hour": n, "day": f"{DAY:%Y-%m-%d}",
                "warm_hour": WARM_HOUR.isoformat(), "hours": {}}
    for root, hs in hours.items():
        for hour in hs:
            data, valid, bad, raw = hour_bytes(seed, hour, n)
            path = hour_path(os.path.join(out_dir, root), hour)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)
            manifest["hours"][hour.isoformat()] = {
                "root": root, "valid": valid, "malformed": bad,
                "gz_bytes": len(data), "raw_bytes": raw}
    day = [v for v in manifest["hours"].values() if v["root"] == "day"]
    manifest["valid"] = sum(v["valid"] for v in day)
    manifest["malformed"] = sum(v["malformed"] for v in day)
    manifest["gz_bytes"] = sum(v["gz_bytes"] for v in day)
    manifest["raw_bytes"] = sum(v["raw_bytes"] for v in day)
    return manifest


def self_test(out_dir: str, seed: int, n: int) -> None:
    """Same seed, same bytes: regenerate the first hour and compare it with
    the file on disk; a different seed must give different bytes."""
    path = hour_path(os.path.join(out_dir, "day"), DAY)
    with open(path, "rb") as f:
        on_disk = f.read()
    again = hour_bytes(seed, DAY, n)[0]
    if again != on_disk:
        raise SystemExit(f"bronze generator is not deterministic: {path}")
    if hour_bytes(seed + 1, DAY, n)[0] == on_disk:
        raise SystemExit("bronze generator ignores its seed")


if __name__ == "__main__":
    out, seed, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    m = generate(out, seed, n)
    self_test(out, seed, n)
    print(json.dumps({k: v for k, v in m.items() if k != "hours"}))
