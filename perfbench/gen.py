"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size parameters, so
the same seed always yields byte-identical files.  ``ensure_*`` wraps
each generator with an on-disk cache keyed by (workload, seed, params)
so repeated runs on one seed pay generation once; the time spent
generating is reported apart from every benchmark metric.

Commit stream (``commits_stream``):
  * repositories and per-repository file paths are Zipf-skewed, so
    Q7's per-repo groups and Q9's ``(repo, filename)`` self-join see a
    long tail of keys plus a few hot ones;
  * committer pools are small for some hot repositories, so Q7's
    ``> 20 commits and <= 2 committers`` filter keeps rows;
  * planted added -> removed pairs on one path, some within a day of
    each other and some beyond it (Q9);
  * geo events fall inside and outside Q8's [-1 h, +30 min] band;
  * event time rises strictly from commit to commit (the reference's
    ascending-timestamp contract, which ``streaming/cep_stream.py``
    relies on), and file paths are unique within a commit.

Document corpus (``corpus_pipeline``): a language and source mix with
planted exact duplicates (differing only in case and punctuation),
near duplicates, contaminated documents (a span copied from a probe
document), repetitive spam, high-entropy noise, and one embedding per
document whose duplicates sit close in cosine.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import math
import os
import random
import shutil
import time
from datetime import datetime, timezone

EPOCH_S = int(datetime(2023, 3, 1, tzinfo=timezone.utc).timestamp())

# --- commit stream -------------------------------------------------------

COMMIT_PARAMS = {
    "n_commits": 8000,
    "n_repos": 1500,
    "repo_zipf": 1.1,
    "paths_per_repo": 300,
    "path_zipf": 1.0,
    "geo_rate": 0.7,
    "geo_out_of_band": 0.15,
    "planted_pairs": 0.05,  # share of 'added' files given a later removal
}

EXTS = ["java", "java", "scala", "js", "py", "py", "md", "txt", "", "c"]
STATUSES = ["modified"] * 11 + ["added"] * 4 + ["removed"] * 3 + ["renamed", None]
CONTINENTS = ["Europe", "Asia", "North-America", "South-America", "Africa", "Oceania"]
POOL_SIZES = [1, 2, 2, 3, 4, 6, 10]


def iso(ts: int) -> str:
    return datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def _hex(rng: random.Random, nbits: int) -> str:
    return f"{rng.getrandbits(nbits):0{nbits // 4}x}"


def _path(repo_idx: int, k: int) -> str | None:
    """Path ``k`` of repository ``repo_idx``; its extension is a fixed
    function of (repo, k), so a path keeps its type across commits.
    A small share of paths have no name at all (null filename)."""
    h = (repo_idx * 7919 + k * 104729) % 1000
    if h < 20:
        return None
    ext = EXTS[h % len(EXTS)]
    name = f"src/m{k % 17}/File{k}"
    return f"{name}.{ext}" if ext else name


def make_commits(seed: int, p: dict = COMMIT_PARAMS) -> tuple[list[dict], list[dict]]:
    """(commits, geo) in ascending event time."""
    rng = random.Random(f"commits:{seed}")
    repo_cum = _zipf_cum(p["n_repos"], p["repo_zipf"])
    path_cum = _zipf_cum(p["paths_per_repo"], p["path_zipf"])
    repos = [f"org{i % 97}/project-{i}" for i in range(p["n_repos"])]
    pools = [POOL_SIZES[(i * 31 + seed) % len(POOL_SIZES)] for i in range(p["n_repos"])]
    patches = [
        "@@ -1,%d +1,%d @@\n" % (k, k + 1)
        + "\n".join("+" + _hex(rng, 64) for _ in range(k % 6))
        for k in range(64)
    ]
    messages = [f"Fix issue #{k} in module {k % 13}" for k in range(200)]
    n = p["n_commits"]
    ts = EPOCH_S
    commits: list[dict] = []
    by_repo: dict[int, list[int]] = {}
    repo_of: list[int] = []
    for i in range(n):
        ts += rng.randint(1, 86)
        r = bisect.bisect_left(repo_cum, rng.random() * repo_cum[-1])
        repo_of.append(r)
        by_repo.setdefault(r, []).append(i)
        who = f"dev{r}_{rng.randrange(pools[r])}"
        sha = _hex(rng, 160)
        url = f"https://api.github.com/repos/{repos[r]}/commits/{sha}"
        if rng.random() < 0.2:
            url += "?page=2&per_page=10"
        files, seen = [], set()
        for _ in range(rng.choice((0, 1, 1, 2, 2, 3, 4, 6))):
            k = bisect.bisect_left(path_cum, rng.random() * path_cum[-1])
            if k in seen:
                continue
            seen.add(k)
            add, dele = rng.randint(0, 80), rng.randint(0, 60)
            files.append(
                {
                    "sha": _hex(rng, 64),
                    "filename": _path(r, k),
                    "status": rng.choice(STATUSES),
                    "additions": add,
                    "deletions": dele,
                    "changes": add + dele,
                    "patch": patches[rng.randrange(len(patches))],
                }
            )
        add_t = sum(f["additions"] for f in files)
        del_t = sum(f["deletions"] for f in files)
        user = {"name": who, "email": f"{who}@example.org", "date": iso(ts)}
        commits.append(
            {
                "node_id": f"C_{i}",
                "sha": sha,
                "url": url,
                "commit": {
                    "author": user,
                    "committer": user,
                    "message": messages[rng.randrange(len(messages))],
                    "tree": {"sha": _hex(rng, 64)},
                    "comment_count": rng.randint(0, 3),
                    "verification": {"verified": rng.random() < 0.5, "reason": "unsigned"},
                },
                "parents": [{"sha": commits[-1]["sha"]}] if commits else [],
                "stats": (
                    {"total": add_t + del_t, "additions": add_t, "deletions": del_t}
                    if rng.random() > 0.1
                    else None
                ),
                "files": files,
            }
        )
    # planted added -> removed pairs: a later commit of the same repo
    # removes a path an earlier one added (within a day or beyond it)
    for i, c in enumerate(commits):
        for f in c["files"]:
            if f["status"] != "added" or f["filename"] is None:
                continue
            if rng.random() >= p["planted_pairs"] / 0.2:
                continue
            later = by_repo[repo_of[i]]
            pos = bisect.bisect_right(later, i)
            if pos >= len(later):
                continue
            j = later[min(len(later) - 1, pos + rng.randrange(4))]
            target = commits[j]
            if any(g["filename"] == f["filename"] for g in target["files"]):
                continue
            target["files"].append(
                {
                    "sha": _hex(rng, 64),
                    "filename": f["filename"],
                    "status": "removed",
                    "additions": 0,
                    "deletions": 5,
                    "changes": 5,
                    "patch": patches[0],
                }
            )
    geo: list[dict] = []
    for c in commits:
        if rng.random() >= p["geo_rate"]:
            continue
        cts = _ts_of(c)
        if rng.random() < p["geo_out_of_band"]:
            off = rng.choice((rng.randint(-7200, -3601), rng.randint(1801, 5400)))
        else:
            off = rng.randint(-3600, 1800)
        geo.append(
            {"sha": c["sha"], "createdAt": iso(cts + off), "continent": rng.choice(CONTINENTS)}
        )
    geo.sort(key=lambda g: g["createdAt"])
    return commits, geo


def _ts_of(c: dict) -> int:
    return _epoch(c["commit"]["committer"]["date"])


def write_jsonl(rows: list[dict], path: str) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":")))
            fh.write("\n")


def chunk(rows: list, n: int) -> list[list]:
    size = math.ceil(len(rows) / n) if rows else 0
    return [rows[k * size : (k + 1) * size] for k in range(n)]


# --- document corpus -----------------------------------------------------

CORPUS_PARAMS = {
    "n_base": 200,  # original documents
    "n_probe": 20,  # eval-suite documents for decontamination
    "min_tokens": 20,
    "max_tokens": 60,
    "exact_dup": 0.08,
    "near_dup": 0.08,
    "contaminated": 0.03,
    "repetitive": 0.04,
    "noise": 0.03,
    "dim": 32,
}
LANG_MIX = [("en", 0.5), ("de", 0.2), ("fr", 0.15), ("es", 0.15)]
SOURCE_MIX = [("web", 0.6), ("books", 0.15), ("code", 0.1), ("wiki", 0.15)]
SYLLABLES = {
    "en": ["th", "e", "ing", "an", "d", "ion", "ent", "re", "o", "st", "er"],
    "de": ["sch", "ein", "ich", "und", "der", "ge", "en", "au", "ber", "t"],
    "fr": ["les", "ent", "que", "de", "ou", "ai", "re", "on", "eau", "t"],
    "es": ["de", "la", "os", "que", "ci", "ón", "ar", "es", "do", "ra"],
}


def _vocab(rng: random.Random, lang: str, n: int = 1500) -> list[str]:
    syl = SYLLABLES[lang]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(1, 4))))
    return sorted(words)


def _pick(rng: random.Random, mix: list[tuple[str, float]]) -> str:
    return rng.choices([k for k, _ in mix], weights=[w for _, w in mix])[0]


def _prose(rng: random.Random, vocab: list[str], cum: list[float], n_tok: int) -> str:
    out = []
    for t in range(n_tok):
        w = vocab[bisect.bisect_left(cum, rng.random() * cum[-1])]
        if t % 11 == 0:
            w = w.capitalize()
        out.append(w + ("." if t % 11 == 10 else ("," if rng.random() < 0.05 else "")))
    return " ".join(out)


def _unit(rng: random.Random, dim: int) -> list[float]:
    v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    s = math.sqrt(sum(x * x for x in v))
    return [x / s for x in v]


def make_corpus(seed: int, p: dict = CORPUS_PARAMS) -> tuple[list[dict], list[dict]]:
    """(docs, probe_docs). Doc ids are dense from 0; probe ids are
    disjoint from doc ids. Rows carry text, lang, source, embedding."""
    rng = random.Random(f"corpus:{seed}")
    vocabs = {lang: _vocab(rng, lang) for lang, _ in LANG_MIX}
    cum = _zipf_cum(1500, 1.05)
    dim = p["dim"]
    probe = [
        {"doc_id": 10_000_000 + k, "text": " ".join(
            vocabs["en"][bisect.bisect_left(cum, rng.random() * cum[-1])] for _ in range(40))}
        for k in range(p["n_probe"])
    ]
    docs: list[dict] = []

    def add(text, lang, source, emb):
        docs.append(
            {
                "doc_id": len(docs),
                "text": text,
                "lang": lang,
                "source": source,
                "embedding": [float(x) for x in emb],
            }
        )

    for _ in range(p["n_base"]):
        lang, source = _pick(rng, LANG_MIX), _pick(rng, SOURCE_MIX)
        r = rng.random()
        if r < p["repetitive"]:
            phrase = _prose(rng, vocabs[lang], cum, rng.randint(3, 6))
            text = " ".join([phrase] * rng.randint(4, 10))
        elif r < p["repetitive"] + p["noise"]:
            text = " ".join(_hex(rng, 32 * rng.randint(1, 4)) for _ in range(rng.randint(8, 20)))
        else:
            text = _prose(rng, vocabs[lang], cum, rng.randint(p["min_tokens"], p["max_tokens"]))
            if rng.random() < p["contaminated"]:
                src = rng.choice(probe)["text"].split()
                at = rng.randrange(len(src) - 12)
                words = text.split()
                cut = rng.randrange(len(words))
                text = " ".join(words[:cut] + src[at : at + 12] + words[cut:])
        add(text, lang, source, _unit(rng, dim))
    n_orig = len(docs)
    for _ in range(int(n_orig * p["exact_dup"])):
        o = docs[rng.randrange(n_orig)]
        text = o["text"].upper() if rng.random() < 0.5 else o["text"].replace(",", " ;")
        emb = [x + rng.gauss(0.0, 0.01) for x in o["embedding"]]
        add(text, o["lang"], _pick(rng, SOURCE_MIX), emb)
    for _ in range(int(n_orig * p["near_dup"])):
        o = docs[rng.randrange(n_orig)]
        words = o["text"].split()
        for _ in range(max(1, len(words) // 25)):
            words[rng.randrange(len(words))] = rng.choice(vocabs[o["lang"]])
        emb = [x + rng.gauss(0.0, 0.03) for x in o["embedding"]]
        add(" ".join(words), o["lang"], o["source"], emb)
    # shuffle ids so duplicates are not always the larger id
    order = list(range(len(docs)))
    rng.shuffle(order)
    for new_id, d in zip(order, docs):
        d["doc_id"] = new_id
    docs.sort(key=lambda d: d["doc_id"])
    return docs, probe


def write_corpus(docs: list[dict], probe: list[dict], out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("embedding", pa.list_(pa.float32())),
        ]
    )
    os.makedirs(os.path.join(out_dir, "docs"))
    os.makedirs(os.path.join(out_dir, "probe"))
    for k, part in enumerate(chunk(docs, 4)):
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(out_dir, "docs", f"part-{k}.parquet"),
        )
    pq.write_table(
        pa.Table.from_pylist(
            probe, schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        ),
        os.path.join(out_dir, "probe", "part-0.parquet"),
    )


# --- cache ---------------------------------------------------------------


def _key(kind: str, seed: int, params: dict) -> str:
    blob = json.dumps([kind, seed, params], sort_keys=True).encode()
    return f"{kind}-{seed}-{hashlib.sha1(blob).hexdigest()[:10]}"


def _cached(work: str, kind: str, seed: int, params: dict, build) -> tuple[str, float]:
    """Build into a temp dir and rename into place, so a killed run
    never leaves a half-written cache entry. Returns (dir, seconds
    spent generating — 0.0 on a cache hit)."""
    final = os.path.join(work, "inputs", _key(kind, seed, params))
    if os.path.isdir(final):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final, time.perf_counter() - t0


def ensure_corpus(work: str, seed: int, params: dict = CORPUS_PARAMS) -> tuple[str, float]:
    """Directory holding ``docs/*.parquet`` and ``probe/*.parquet``."""

    def build(d):
        docs, probe = make_corpus(seed, params)
        write_corpus(docs, probe, d)

    return _cached(work, "corpus", seed, params, build)


# --- open-loop stream ----------------------------------------------------

STREAM_PARAMS = {
    "commits_per_tick": 20,
    # ticks per second; each tick lands one commit file and one geo file.
    # Per-batch cost grows with the number of files, and at 1 s triggers
    # this box held latency flat up to ~10 ticks/s, so 5 is about half.
    "rate": 5.0,
    "warmup_ticks": 4,  # landed before the window, in two drained rounds
}


def measured_ticks(seconds: float, p: dict = STREAM_PARAMS) -> int:
    return math.ceil(p["rate"] * seconds)


def ensure_stream(work: str, seed: int, seconds: float, p: dict = STREAM_PARAMS) -> tuple[str, float]:
    """Directory holding ``commits/c-NNNNN.jsonl`` and ``geo/g-NNNNN.jsonl``,
    one pair per tick. Tick ``k`` holds the next ``commits_per_tick``
    commits in event-time order and the geo events whose ``createdAt``
    falls between the first commit of tick ``k`` and that of tick
    ``k + 1`` (earlier ones go to tick 0, later ones to the last tick),
    so event time rises across files on both inputs."""
    n_ticks = p["warmup_ticks"] + measured_ticks(seconds, p)
    params = dict(COMMIT_PARAMS, n_commits=n_ticks * p["commits_per_tick"], **p)

    def build(d):
        commits, geo = make_commits(seed, params)
        ticks = [commits[k * p["commits_per_tick"] : (k + 1) * p["commits_per_tick"]]
                 for k in range(n_ticks)]
        starts = [_ts_of(t[0]) for t in ticks[1:]]
        geo_ticks: list[list[dict]] = [[] for _ in range(n_ticks)]
        for g in geo:
            geo_ticks[bisect.bisect_right(starts, _epoch(g["createdAt"]))].append(g)
        os.makedirs(os.path.join(d, "commits"))
        os.makedirs(os.path.join(d, "geo"))
        for k in range(n_ticks):
            write_jsonl(ticks[k], os.path.join(d, "commits", f"c-{k:05d}.jsonl"))
            if geo_ticks[k]:
                write_jsonl(geo_ticks[k], os.path.join(d, "geo", f"g-{k:05d}.jsonl"))

    return _cached(work, "stream", seed, params, build)


def _epoch(s: str) -> int:
    return int(datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc).timestamp())
