"""Independent answers the benchmark checks the program against.

* :func:`commit_answers` — the ten reference queries (dummy, Q1-Q9)
  recomputed in plain Python over the same JSONL the program reads,
  following the reference semantics (``FlinkAssignment.scala``), not
  the package's code.
* :func:`corpus_prefix_ids` — the corpus pipeline's exact prefix
  (normalize -> repetition gate -> compression gate -> decontaminate
  -> exact dedup) in DuckDB SQL, in the shape of the q83 oracle.
* :func:`mixture_keep` — ``sample_mixture``'s md5-derived selection
  recomputed in Python with the same IEEE-754 operations.
* :func:`cosine_pairs` — exact all-pairs cosine in NumPy.

Every answer is a ``collections.Counter`` of plain tuples (or a set),
so a result compares with ``==`` regardless of row order.
"""

from __future__ import annotations

import bisect
import glob
import hashlib
import json
import os
import re
import zlib
from collections import Counter, defaultdict
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

DAY = 86400
JAVA_SCALA = ("java", "scala")


def load_jsonl(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    rows = []
    for fp in files:
        with open(fp) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def epoch(s: str) -> int:
    return int(
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc).timestamp()
    )


def day_str(ts: int) -> str:
    return datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%d-%m-%Y")


def extension(filename: str) -> str | None:
    """Scala ``split("\\.").lastOption`` (empty segments dropped)."""
    parts = [p for p in filename.split(".") if p]
    return parts[-1] if parts else None


def repo_of(url: str) -> str:
    """Reference ``FlinkAssignment.scala:174-183``."""
    cleaned = re.sub(r"\?.*$", "", url)
    parts = cleaned.rstrip("/").split("/")
    if "repos" in parts:
        i = parts.index("repos")
        if i + 2 < len(parts):
            return f"{parts[i + 1]}/{parts[i + 2]}"
    if len(parts) >= 4:
        return f"{parts[-3]}/{parts[-2]}"
    return cleaned


def commit_answers(commits: list[dict], geo: list[dict]) -> dict[str, Counter]:
    """Expected output of every reference query, keyed dummy, q1..q9.
    Window starts are epoch seconds (UTC)."""
    out: dict[str, Counter] = {k: Counter() for k in
                               ("dummy", "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9")}
    q7: dict[tuple, Counter] = defaultdict(Counter)
    q7_changes: Counter = Counter()
    java: dict[str, list[tuple[int, int]]] = defaultdict(list)
    cep: dict[tuple, list[tuple[int, str]]] = defaultdict(list)
    for c in commits:
        ts = epoch(c["commit"]["committer"]["date"])
        stats = c.get("stats")
        files = c.get("files") or []
        repo = repo_of(c["url"])
        out["dummy"][(c["sha"],)] += 1
        if stats is not None and stats["additions"] >= 20:
            out["q1"][(c["sha"],)] += 1
        total = stats["total"] if stats is not None else 0
        out["q5"][(day_str(ts - ts % DAY),)] += 1
        kind = "large" if total > 20 else "small"
        newest = ts - ts % (12 * 3600)
        for k in range(4):
            out["q6"][(newest - k * 12 * 3600, kind)] += 1
        day = ts - ts % DAY
        q7[(repo, day)][c["commit"]["committer"]["name"]] += 1
        q7_changes[(repo, day)] += total
        for f in files:
            name = f.get("filename")
            if name is not None and f["deletions"] > 30:
                out["q2"][(name,)] += 1
            if name is None:
                continue
            ext = extension(name)
            if ext in JAVA_SCALA:
                out["q3"][ext] += 1
            if name.endswith(".js") or name.endswith(".py"):
                key = (".js" if name.endswith(".js") else ".py", f.get("status") or "unknown")
                out["q4"][key] += f["changes"]
            if name.endswith(".java"):
                java[c["sha"]].append((ts, f["changes"]))
            if f.get("status") in ("added", "removed"):
                cep[(repo, name)].append((ts, f["status"]))
    out["q3"] = Counter({(k, v): 1 for k, v in out["q3"].items()})
    out["q4"] = Counter({(k[0], k[1], v): 1 for k, v in out["q4"].items()})
    out["q5"] = Counter({(k[0], v): 1 for k, v in out["q5"].items()})
    out["q6"] = Counter({(k[0], k[1], v): 1 for k, v in out["q6"].items()})
    for (repo, day), by in q7.items():
        n = sum(by.values())
        if n > 20 and len(by) <= 2:
            top = max(by.values())
            popular = ",".join(sorted(w for w, k in by.items() if k == top))
            out["q7"][(repo, day_str(day), n, len(by), q7_changes[(repo, day)], popular)] += 1
    out["q8_joined"] = Counter()
    week: Counter = Counter()
    for g in geo:
        gts = epoch(g["createdAt"])
        for cts, changes in java.get(g["sha"], ()):
            if cts - 3600 <= gts <= cts + 1800:
                joined = max(cts, gts)
                out["q8_joined"][(g["continent"], changes, joined)] += 1
                week[(joined - joined % (7 * DAY), g["continent"])] += changes
    out["q8"] = Counter({(k[0], k[1], v): 1 for k, v in week.items()})
    for key, events in cep.items():
        removed = sorted(t for t, s in events if s == "removed")
        for t, s in events:
            if s != "added":
                continue
            i = bisect.bisect_right(removed, t)
            if i < len(removed) and removed[i] <= t + DAY:
                out["q9"][key] += 1
    return out


# --- corpus --------------------------------------------------------------

TWO_POW_60 = float(1 << 60)


def hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def mixture_keep(docs: dict[int, str], weights: dict[str, float], salt: str = "mix") -> set[int]:
    """``operators.sampling.mixture_rebalance`` recomputed: rates
    ``w·T/n`` with ``T = min(n/w)``, kept iff md5-uniform < rate.
    ``docs`` maps id -> group."""
    n = Counter(g for g in docs.values() if g in weights)
    t = min(float(n[g]) / weights[g] for g in weights)
    rate = {g: (weights[g] * t) / n[g] for g in weights}
    return {
        i for i, g in docs.items()
        if g in rate and float(hash60(f"{salt}:{i}")) / TWO_POW_60 < rate[g]
    }


CORPUS_PREFIX_SQL = r"""
WITH staged AS (
  SELECT doc_id, lang,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                             '\s+', ' ', 'g')) AS ntext
  FROM docs
), tok AS (
  SELECT doc_id, lang, ntext,
         list_filter(regexp_split_to_array(ntext, '\s+'), t -> t <> '') AS tk
  FROM staged
), corpus AS (
  SELECT doc_id, lang, ntext,
         greatest(len(tk) - 2, 0) AS n_total,
         CASE WHEN len(tk) >= 3 THEN list_distinct(list_transform(
              generate_series(1, len(tk) - 2),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) ELSE [] END AS shingles
  FROM tok
), passed AS (
  SELECT * FROM corpus
  WHERE (n_total - len(shingles)) * 5 <= n_total
    AND compress_ok(ntext)
), ptok AS (
  SELECT list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
  FROM probe
), probe_h AS (
  SELECT DISTINCT CAST('0x' || substring(md5(unnest(list_distinct(list_transform(
           generate_series(1, len(tk) - 2),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))), 1, 15) AS BIGINT) AS h
  FROM ptok WHERE len(tk) >= 3
), sh AS (
  SELECT doc_id, CAST('0x' || substring(md5(unnest(shingles)), 1, 15) AS BIGINT) AS h
  FROM passed
), clean AS (
  SELECT * FROM passed
  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM sh WHERE h IN (SELECT h FROM probe_h))
)
SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY md5(ntext)
"""


def compress_ok(text: str) -> bool:
    """``gate_compression``'s band: zlib(level 6) bytes / utf-8 bytes,
    rounded half-up to 4 places as Spark's ``round`` does, in
    [0.35, 0.90]."""
    raw = text.encode("utf-8")
    if not raw:
        return False
    ratio = float(len(zlib.compress(raw, 6))) / float(len(raw))
    r = Decimal(repr(ratio)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    return Decimal("0.35") <= r <= Decimal("0.90")


def corpus_prefix_ids(docs_dir: str, probe_dir: str) -> set[int]:
    """Ids kept by normalize -> gate_repetition -> gate_compression ->
    decontaminate -> dedup_exact, computed by DuckDB. The compression
    band is a Python scalar function (:func:`compress_ok`); everything
    else is SQL.

    The pipeline normalizes the corpus text in place but shingles the
    probe documents as given, and so does this query."""
    import duckdb

    con = duckdb.connect()
    try:
        con.create_function("compress_ok", compress_ok, ["VARCHAR"], "BOOLEAN")
        con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')")
        con.execute(f"CREATE VIEW probe AS SELECT * FROM read_parquet('{probe_dir}/*.parquet')")
        return {r[0] for r in con.execute(CORPUS_PREFIX_SQL).fetchall()}
    finally:
        con.close()


def cosine_pairs(ids, vecs, threshold: float, margin: float = 1e-5) -> tuple[set, set]:
    """(certain, borderline) pairs ``(a, b)``, a < b, by exact float64
    cosine. ``certain`` pairs clear the threshold by more than
    ``margin``; ``borderline`` ones sit within it, where the engine's
    rounding to 6 places may fall either way."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    m = np.asarray(vecs, dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    upper = ids[:, None] < ids[None, :]
    certain = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*np.nonzero(upper & (cos >= threshold + margin)))
    }
    border = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*np.nonzero(upper & (np.abs(cos - threshold) <= margin)))
    }
    return certain, border
