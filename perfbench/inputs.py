"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
always writes byte-identical files. Inputs are written under the
benchmark's work directory (never into the tracked tree) and reused
across runs keyed by ``(workload, seed, size)`` and a fingerprint of
this file, so an edited generator never reuses an older one's inputs.
The directory is completed atomically by a rename, so a killed run
never leaves a half-written input set behind. A generator runs in a
child process, so its memory never counts towards the peak RSS of the
driver that the run measures.

Each generator returns a ``stats`` dict (rows, on-disk bytes, distinct
keys and key skew per input) that the run records in its artifact.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sets kept per workload; older ones are evicted.
KEEP_INPUT_SETS = 12
with open(__file__, "rb") as _f:
    SOURCE_TAG = hashlib.sha256(_f.read()).hexdigest()[:8]

# --- shared helpers ------------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def key_stats(keys) -> dict:
    """Distinct keys and skew (largest key's share over the mean share)."""
    counts = Counter(keys)
    n = sum(counts.values())
    distinct = len(counts)
    top = max(counts.values()) if counts else 0
    return {
        "distinct_keys": distinct,
        "key_skew": round(top * distinct / n, 3) if n else 0.0,
    }


def zipf_indices(rng: np.random.Generator, n_keys: int, n: int, s: float):
    """``n`` draws from a bounded Zipf(s) over ``[0, n_keys)``."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    return rng.choice(n_keys, size=n, p=p)


def cached_inputs(work_dir: str, workload: str, seed: int, size: dict, gen):
    """Return ``(path, stats)`` for the input set of ``(workload, seed,
    size)``, generating it with ``gen(path, seed, **size)`` on a miss."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = os.path.join(work_dir, "inputs")
    path = os.path.join(root, f"{workload}-seed{seed}-{tag}-{SOURCE_TAG}")
    stats_file = os.path.join(path, "stats.json")
    if os.path.exists(stats_file):
        os.utime(path)  # most recently used
        with open(stats_file) as f:
            return path, json.load(f)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    stats = _generate(gen, tmp, seed, size)
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(root, workload)
    return path, stats


def _generate(gen, path: str, seed: int, size: dict) -> dict:
    """Run ``gen(path, seed, **size)`` in a child Python process and
    return its stats."""
    code = (
        "import json, sys\n"
        "from perfbench import inputs\n"
        "gen = getattr(inputs, sys.argv[1])\n"
        "print(json.dumps(gen(sys.argv[2], int(sys.argv[3]), **json.loads(sys.argv[4]))))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, gen.__name__, path, str(seed), json.dumps(size)],
        cwd=root, check=True, stdout=subprocess.PIPE, text=True,
    )
    return json.loads(out.stdout)


def _evict(root: str, workload: str) -> None:
    sets = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(workload + "-seed") and ".tmp" not in d
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_INPUT_SETS:]:
        shutil.rmtree(old, ignore_errors=True)


# --- c360_daily --------------------------------------------------------------

APP_NAMES = (
    "CHANNEL", "DSHD", "KPLUS", "VOD", "FIMS", "SPORT", "RELAX", "CHILD",
    # not in the reference's category map: recoded to 'error', dropped
    "MYTV", "HBO",
)
APP_WEIGHTS = (0.22, 0.08, 0.06, 0.18, 0.10, 0.12, 0.08, 0.08, 0.05, 0.03)
KEYWORDS = tuple(
    f"{w}{i}" for w in ("phim", "bong da", "hai", "tin tuc", "nhac", "game")
    for i in range(10)
)
CATEGORIES = ("Action", "Sports", "Comedy", "News", "Music", "Kids")
LOG_CONTENT_START = date(2022, 4, 1)
LOG_SEARCH_DAYS = (
    [date(2022, 6, d) for d in range(1, 15)]
    + [date(2022, 7, d) for d in range(1, 15)]
)


def contract_id(i: int) -> str:
    return f"CT{i:07d}"


def gen_c360(
    out: str, seed: int, days: int, rows: int, contracts: int, search_rows: int
) -> dict:
    """The reference's native layout: ``log_content/YYYYMMDD.json`` lines
    of ``{"_source": {Contract, Mac, AppName, TotalDuration}}``,
    ``log_search/YYYYMMDD/part-0.parquet`` with (datetime, user_id,
    keyword), and a keyword -> category ``mapping.csv`` with duplicate
    keys (resolved by ``read_csv_dim``'s deterministic survivor)."""
    rng = np.random.default_rng([seed, 1])
    lc_dir = os.path.join(out, "log_content")
    ls_dir = os.path.join(out, "log_search")
    os.makedirs(lc_dir)
    os.makedirs(ls_dir)
    all_contracts = []
    for d in range(days):
        day = LOG_CONTENT_START + timedelta(days=d)
        idx = zipf_indices(rng, contracts, rows, 0.8)
        all_contracts.append(idx)
        macs = rng.integers(0, 4, rows) + idx * 3 % 7
        apps = rng.choice(len(APP_NAMES), size=rows, p=APP_WEIGHTS)
        dur = rng.integers(1, 20000, rows)
        sentinel = rng.random(rows) < 0.01  # the reference's Contract '0'
        lines = []
        for i in range(rows):
            c = "0" if sentinel[i] else contract_id(int(idx[i]))
            lines.append(
                '{"_source": {"Contract": "%s", "Mac": "MAC%05d", '
                '"AppName": "%s", "TotalDuration": %d}}'
                % (c, macs[i], APP_NAMES[apps[i]], dur[i])
            )
        with open(os.path.join(lc_dir, f"{day:%Y%m%d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")

    users_seen = []
    for day in LOG_SEARCH_DAYS:
        idx = zipf_indices(rng, contracts, search_rows, 0.8)
        users_seen.append(idx)
        users = [contract_id(int(i)) for i in idx]
        for j in np.flatnonzero(rng.random(search_rows) < 0.01):
            users[j] = None
        kw = rng.choice(len(KEYWORDS), size=search_rows)
        words = [
            (" " if pad else "") + KEYWORDS[k]
            for k, pad in zip(kw, rng.random(search_rows) < 0.05)
        ]
        secs = rng.integers(0, 86400, search_rows)
        table = pa.table(
            {
                "datetime": [
                    f"{day:%Y-%m-%d} {s // 3600:02d}:{s // 60 % 60:02d}:"
                    f"{s % 60:02d}" for s in secs
                ],
                "user_id": pa.array(users, pa.string()),
                "keyword": words,
            }
        )
        folder = os.path.join(ls_dir, f"{day:%Y%m%d}")
        os.makedirs(folder)
        pq.write_table(table, os.path.join(folder, "part-0.parquet"))

    # ~10% of keywords unmapped (NULL category -> 'Changed' trend), a
    # few mapped twice (deterministic survivor: smallest category)
    mapped = [k for k in KEYWORDS if rng.random() > 0.1]
    rows_csv = [(k, CATEGORIES[int(rng.integers(len(CATEGORIES)))]) for k in mapped]
    rows_csv += [
        (k, CATEGORIES[int(rng.integers(len(CATEGORIES)))])
        for k in mapped[:: max(1, len(mapped) // 5)]
    ]
    with open(os.path.join(out, "mapping.csv"), "w") as f:
        f.write("search,category\n")
        f.writelines(f"{k},{c}\n" for k, c in rows_csv)

    content_keys = np.concatenate(all_contracts)
    search_keys = np.concatenate(users_seen)
    return {
        "log_content": {
            "rows": days * rows,
            "bytes": dir_bytes(lc_dir),
            "files": days,
            **key_stats(content_keys.tolist()),
        },
        "log_search": {
            "rows": len(LOG_SEARCH_DAYS) * search_rows,
            "bytes": dir_bytes(ls_dir),
            "files": len(LOG_SEARCH_DAYS),
            **key_stats(search_keys.tolist()),
        },
        "mapping": {
            "rows": len(rows_csv),
            "bytes": os.path.getsize(os.path.join(out, "mapping.csv")),
            **key_stats(k for k, _ in rows_csv),
        },
    }


# --- documents and embeddings (index_ingest) ---------------------------------

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window stream data column order small query big filter "
    "group join click view the a customer"
).split()


def make_texts(rng: np.random.Generator, n: int, near_frac: float, exact_frac: float):
    """``n`` texts of 10-99 vocabulary tokens; ``near_frac`` of them are
    one-token-edit copies and ``exact_frac`` verbatim copies of an
    earlier text. Returns ``(texts, near_pairs, exact_pairs)`` where a
    pair is ``(source_index, copy_index)``."""
    n_near = int(n * near_frac)
    n_exact = int(n * exact_frac)
    n_base = n - n_near - n_exact
    lens = rng.integers(10, 100, n_base)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[t] for t in toks[pos:pos + ln]))
        pos += ln
    near, exact = [], []
    for _ in range(n_near):
        src = int(rng.integers(n_base))
        words = texts[src].split()
        j = int(rng.integers(len(words)))
        words[j] = VOCAB[(VOCAB.index(words[j]) + 1 + int(rng.integers(len(VOCAB) - 1))) % len(VOCAB)]
        near.append((src, len(texts)))
        texts.append(" ".join(words))
    for _ in range(n_exact):
        src = int(rng.integers(n_base))
        exact.append((src, len(texts)))
        texts.append(texts[src])
    return texts, near, exact


def make_vectors(rng: np.random.Generator, n: int, dim: int, near_frac: float):
    """Standard-normal vectors; ``near_frac`` of them are perturbed copies
    of an earlier vector (cosine ~0.99 to the source)."""
    n_near = int(n * near_frac)
    n_base = n - n_near
    vecs = rng.standard_normal((n, dim))
    src = rng.integers(0, n_base, n_near)
    vecs[n_base:] = vecs[src] + 0.1 * rng.standard_normal((n_near, dim))
    pairs = [(int(s), n_base + i) for i, s in enumerate(src)]
    return vecs, pairs


#: Arrival files' modification times start here, one day apart, so the
#: file-stream source picks them up in day order.
ARRIVAL_EPOCH = 1_654_041_600  # 2022-06-01 UTC


def gen_ingest(out: str, seed: int, base: int, days: int, per_day: int) -> dict:
    """A base corpus (``base.parquet``: doc_id, text, embedding) and
    ``days`` daily arrival files under ``arrivals/`` in the same schema.

    The base corpus is what curation runs on, in the
    ``scripts/gen_scale_data.py`` shape: 5% one-token-edit text copies,
    2% verbatim text copies and 3% perturbed vector copies (cosine ~0.99
    to the source), with ids permuted so copies scatter over the id
    space. Each day has ~10% near-duplicates, text and vector, of base
    or earlier documents. ``planted.json`` lists every planted pair.
    Arrival ids increase with arrival, after every base id.
    """
    rng = np.random.default_rng([seed, 3])
    n = base + days * per_day
    texts, near, exact = make_texts(rng, base, 0.05, 0.02)
    vecs, vpairs = make_vectors(rng, base, 64, 0.03)
    ids = np.concatenate(
        [rng.permutation(base), np.arange(base, n)]
    ).astype(np.int64)
    texts += make_texts(rng, n - base, 0.0, 0.0)[0]
    vecs = np.concatenate([vecs, rng.standard_normal((n - base, 64))])
    arrivals = []
    for i in range(base, n):
        if rng.random() < 0.1:
            src = int(rng.integers(i))
            words = texts[src].split()
            words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts[i] = " ".join(words)
            vecs[i] = vecs[src] + 0.1 * rng.standard_normal(64)
            arrivals.append((i, int(ids[src])))

    def id_pairs(pairs):
        return [sorted((int(ids[a]), int(ids[b]))) for a, b in pairs]

    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump({
            "near_pairs": arrivals,  # (copy, source)
            "base_near": id_pairs(near),
            "base_exact": id_pairs(exact),
            "base_vectors": id_pairs(vpairs),
        }, f)

    def table(lo: int, hi: int) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(ids[lo:hi]),
                "text": texts[lo:hi],
                "embedding": pa.array(list(vecs[lo:hi]), pa.list_(pa.float64())),
            }
        )

    pq.write_table(table(0, base), os.path.join(out, "base.parquet"))
    arr = os.path.join(out, "arrivals")
    os.makedirs(arr)
    for d in range(days):
        lo = base + d * per_day
        path = os.path.join(arr, f"day{d:02d}.parquet")
        pq.write_table(table(lo, lo + per_day), path)
        t = ARRIVAL_EPOCH + d * 86400
        os.utime(path, (t, t))
    text_bytes = sum(len(t.encode()) for t in texts)
    return {
        "base": {
            "rows": base,
            "bytes": os.path.getsize(os.path.join(out, "base.parquet")),
            # keys are texts: exact copies make the skew
            **key_stats(texts[:base]),
        },
        "arrivals": {
            "rows": days * per_day,
            "files": days,
            "bytes": dir_bytes(arr),
            "distinct_keys": days * per_day,
            "key_skew": 1.0,
        },
        "text_bytes": text_bytes,
    }
