"""``index_ingest``: curate a base corpus, index it, ingest daily arrivals.

Curation first, one-shot over the base corpus: exact dedup, banded
MinHash-LSH near-duplicate pairs (with the ``max_bucket`` cap its
warning asks for), survivor selection over the pair graph, SemDeDup-style
semantic dedup of the embeddings and in-memory IVF top-k search of the
first day's arrivals against the base. CPU-bound and iterative (k-means,
connected-components rounds).

Then the daily incremental loop: build a MinHash index and an IVF index
over the base corpus and let daily arrival files land in a watched
directory. A file-stream query (availableNow, one micro-batch per day)
probes each batch against both indexes and appends it to both, so
every day after the first probes an appended index.
Compaction ends the iteration. Many small jobs and bucketed-table
writes.

Checks, curation: exact groups equal a Python group-by; the MinHash
pairs recall the planted one-edit copies at or above the repo's LSH
recall floor and hold no pair of unrelated texts; survivor components
equal a union-find over the reported pairs with the minimum id kept;
semantic-dedup components are subsets of the brute-force cosine
components and collapse the planted vector copies at or above a recall
floor; IVF top-k recall against a numpy brute force is at or above the
repo's IVF recall floor.

Checks, per day: the MinHash probe finds the planted copies of earlier
documents at or above the LSH recall floor and reports no pair of
unrelated texts; the IVF-indexed top-k equals in-memory ``cosine_topk_ivf`` over
the corpus so far. Per iteration: every index table holds the same rows
before and after compaction, so any probe gives the same result.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
    compact_minhash_index,
    dedup_exact,
    minhash_lsh_join,
    minhash_lsh_pairs,
    read_minhash_index,
    write_minhash_index,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
    dedup_survivors,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
    append_ivf_index,
    compact_ivf_index,
    cosine_topk_ivf,
    cosine_topk_ivf_indexed,
    read_ivf_index,
    semantic_dedup,
    write_ivf_index,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
    run_foreach_batch,
    stream_file_source,
)

from . import inputs
from .checks import components, cosine_pairs, jaccard, topk_bruteforce

#: One day per iteration at the measured size: each day is a few seconds
#: of fixed per-job cost, and a second day does not fit the time budget.
#: The small size, for the tests, runs two days, so its second day probes
#: an appended index.
SIZE = {"base": 1_000, "days": 1, "per_day": 200}
SMALL_SIZE = {"base": 300, "days": 2, "per_day": 50}
GENERATE = inputs.gen_ingest

MH, IVF = "perfbench_mh", "perfbench_ivf"
TABLES = (f"{MH}_sig", f"{MH}_bands", f"{IVF}_cells")
TOPK, N_CENTROIDS, NPROBE = 5, 16, 6
#: Buckets per index table, sized to the corpus (a few hundred rows per
#: bucket) instead of the library defaults (32 and 16).
BUCKETS = 8
#: Centroid sample; no larger than the base corpus, so in-memory IVF over
#: base plus arrivals fits the same centroids as the persisted index.
SAMPLE = 300
MAX_BUCKET = 100
SEM_THRESHOLD = 0.95
#: Floors the repo's own tests gate on: LSH recall (test_extensions
#: test_minhash_lsh_recall_vs_exact_jaccard) and IVF recall@5 at
#: nprobe 6 of 16 cells (test_ann_ivf_recall_vs_bruteforce).
LSH_RECALL_FLOOR = 0.8
IVF_RECALL_FLOOR = 0.4
#: semantic_dedup at nprobe=1 can miss a pair that a k-means cell
#: boundary splits (the miss class its docstring documents), so planted
#: vector copies are held to a recall floor, not to all-collapsed.
SEM_RECALL_FLOOR = 0.9
#: A reported near-duplicate pair below this true 3-shingle Jaccard is
#: a violation (unrelated texts from this vocabulary score ~0.01).
MIN_PAIR_JACCARD = 0.1
SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def as_vectors(df):
    return df.select(F.col("doc_id").alias("vec_id"), "embedding")


def rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class Workload:
    name = "index_ingest"

    def __init__(self, spark, tracer, path: str, stats: dict, run_dir: str):
        self.spark, self.tr, self.path = spark, tracer, path
        self.run_dir = run_dir
        self.text_bytes = stats["text_bytes"]
        self.days = stats["arrivals"]["files"]
        self.n_iter = 0
        self.expected = None
        self.texts, self.day_ids, self.vecs = {}, [], []
        for f in ["base.parquet"] + [
            os.path.join("arrivals", f"day{d:02d}.parquet") for d in range(self.days)
        ]:
            t = pq.read_table(os.path.join(path, f)).to_pydict()
            self.texts.update(zip(t["doc_id"], t["text"]))
            self.day_ids.append(t["doc_id"])
            self.vecs.append(np.asarray(t["embedding"], dtype=np.float64))
        self.base_ids = self.day_ids.pop(0)
        self.day0_ids = self.day_ids[0]
        self.day_ids = [set(ids) for ids in self.day_ids]
        with open(os.path.join(path, "planted.json")) as f:
            self.planted = json.load(f)

    def _day(self, d: int):
        return self.spark.read.parquet(
            os.path.join(self.path, "arrivals", f"day{d:02d}.parquet")
        )

    def iteration(self) -> dict:
        spark, tr = self.spark, self.tr
        base = spark.read.parquet(os.path.join(self.path, "base.parquet"))
        curated = self._curate(base)
        with tr.span("operators.dedup.write_minhash_index"):
            write_minhash_index(base, MH, num_buckets=BUCKETS)
        with tr.span("operators.similarity.write_ivf_index"):
            write_ivf_index(
                as_vectors(base), IVF, n_centroids=N_CENTROIDS,
                sample_size=SAMPLE, num_buckets=BUCKETS,
            )

        days: list[dict] = []

        def batch_fn(batch, batch_id: int) -> None:
            t0 = time.perf_counter()
            bspark = batch.sparkSession  # reads see this session's appends
            with tr.span("operators.dedup.read_minhash_index"):
                mh = read_minhash_index(bspark, MH)
            with tr.span("operators.dedup.minhash_lsh_join"):
                pairs = rows(minhash_lsh_join(batch, mh))
            with tr.span("operators.similarity.read_ivf_index"):
                ivf = read_ivf_index(bspark, IVF)
            with tr.span("operators.similarity.cosine_topk_ivf_indexed"):
                top = rows(cosine_topk_ivf_indexed(
                    ivf, as_vectors(batch), k=TOPK, nprobe=NPROBE
                ))
            with tr.span("operators.dedup.write_minhash_index"):
                write_minhash_index(
                    batch, MH, num_buckets=BUCKETS, mode="append"
                )
            with tr.span("operators.similarity.append_ivf_index"):
                append_ivf_index(as_vectors(batch), IVF)
            days.append({
                "batch_id": batch_id, "pairs": pairs, "top": top,
                "wall_s": time.perf_counter() - t0,
            })

        self.n_iter += 1
        ckpt = os.path.join(self.run_dir, "checkpoints", f"iter{self.n_iter}")
        stream = stream_file_source(
            spark, os.path.join(self.path, "arrivals"), SCHEMA,
            max_files_per_trigger=1,
        )
        t0 = time.perf_counter()
        with tr.span("streaming.incremental.run_foreach_batch"):
            run_foreach_batch(stream, ckpt, batch_fn)
        stream_s = time.perf_counter() - t0

        # The appends went through each micro-batch's own session; this
        # session's cached relations still list the pre-stream files, and
        # compacting from them would drop every appended row.
        for t in TABLES:
            spark.catalog.refreshTable(t)
        t0 = time.perf_counter()  # the check is not part of the run
        index_files = self._index_files()
        before = self._table_hashes()
        excluded = time.perf_counter() - t0

        with tr.span("operators.dedup.compact_minhash_index"):
            compact_minhash_index(spark, MH)
        with tr.span("operators.similarity.compact_ivf_index"):
            compact_ivf_index(spark, IVF)
        return {
            "curation": curated, "days": days, "stream_s": stream_s,
            "index_files": index_files, "before": before,
            "excluded_s": excluded,
        }

    def _curate(self, base) -> dict:
        spark, tr = self.spark, self.tr
        with tr.span("operators.dedup.dedup_exact"):
            exact = rows(
                dedup_exact(base, F.sha2("text", 256))
                .select("keeper_doc_id", "n_copies")
            )
        # Keepers from the collected groups: the spans that read them
        # re-run no part of the exact-dedup aggregate.
        keep_ids = spark.createDataFrame([(k,) for k, _n in exact], "doc_id long")
        keepers = base.join(F.broadcast(keep_ids), "doc_id", "left_semi")
        with tr.span("operators.dedup.minhash_lsh_pairs"):
            # returned materialised (localCheckpoint), so survivors read
            # its blocks and do not re-run the banded join
            pairs = minhash_lsh_pairs(keepers, max_bucket=MAX_BUCKET)
            pair_rows = [(a, b) for a, b, _agree in pairs.collect()]
        with tr.span("operators.graph.dedup_survivors"):
            survivors = rows(dedup_survivors(pairs, keep_ids))
        vectors = as_vectors(base)
        with tr.span("operators.similarity.semantic_dedup"):
            semantic = rows(semantic_dedup(vectors, threshold=SEM_THRESHOLD))
        with tr.span("operators.similarity.cosine_topk_ivf"):
            top = rows(cosine_topk_ivf(
                vectors, as_vectors(self._day(0)), k=TOPK,
                n_centroids=N_CENTROIDS, nprobe=NPROBE, sample_size=SAMPLE,
            ))
        return {
            "exact": exact, "pairs": pair_rows, "survivors": survivors,
            "semantic": semantic, "top": top,
        }

    def _table_hashes(self) -> list[tuple]:
        """Row count and order-insensitive content hash of each index table."""
        out = []
        for t in TABLES:
            df = self.spark.table(t)
            r = df.select(
                F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
            ).first()
            out.append((t, r[0], str(r[1])))
        return out

    def _index_files(self) -> int:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        n = 0
        for t in (f"{MH}_sig", f"{MH}_bands"):
            for _root, _dirs, files in os.walk(os.path.join(wh, t)):
                n += sum(1 for f in files if f.startswith("part-"))
        return n

    def read_output(self, out: dict) -> dict:
        return {**out, "after": self._table_hashes()}

    def _expect(self) -> dict:
        """Ground truth, computed once: curation from the generator's
        planted pairs and numpy, and for each day after the first
        in-memory ``cosine_topk_ivf`` over the corpus so far. For the
        first day that is the curation's own call."""
        texts = {i: self.texts[i] for i in self.base_ids}
        by_text: dict[str, list[int]] = {}
        for i, t in texts.items():
            by_text.setdefault(t, []).append(i)
        # a planted copy whose source text also occurs verbatim elsewhere
        # pairs with that text's keeper once exact dups are removed
        keeper_of = {i: min(by_text[t]) for i, t in texts.items()}
        near = {
            tuple(sorted((keeper_of[a], keeper_of[b])))
            for a, b in self.planted["base_near"]
            if keeper_of[a] != keeper_of[b]
        }
        ids = self.base_ids
        idx = cosine_pairs(self.vecs[0], SEM_THRESHOLD)
        top = topk_bruteforce(self.vecs[0], self.vecs[1], TOPK)
        q_ids = self.day0_ids  # the query rows of ``top``, in file order
        curation = {
            "exact": sorted((min(v), len(v)) for v in by_text.values()),
            "keep": {min(v) for v in by_text.values()},
            "near": near,
            "sem_comp": components([(ids[i], ids[j]) for i, j in idx], ids),
            "topk": {(q, ids[j]) for q, row in zip(q_ids, top) for j in row},
            "queries": len(q_ids),
        }

        corpus = as_vectors(
            self.spark.read.parquet(os.path.join(self.path, "base.parquet"))
        )
        per_day = [None]
        for d in range(1, self.days):
            corpus = corpus.unionByName(as_vectors(self._day(d - 1)))
            per_day.append(rows(cosine_topk_ivf(
                corpus, as_vectors(self._day(d)), k=TOPK,
                n_centroids=N_CENTROIDS, nprobe=NPROBE, sample_size=SAMPLE,
            )))
        return {"curation": curation, "days": per_day}

    def check(self, out: dict, got: dict) -> list[tuple[str, bool, str]]:
        if self.expected is None:
            self.expected = self._expect()
        units = self._check_curation(got["curation"], self.expected["curation"])
        for d in range(self.days):
            if d >= len(got["days"]):
                units.append((f"day{d}", False, "micro-batch missing"))
                continue
            want = self.expected["days"][d] if d else got["curation"]["top"]
            units.append((f"day{d}", *self._check_day(
                got["days"][d], self.day_ids[d], want
            )))
        ok = got["before"] == got["after"]
        units.append(("compaction", ok, f"{got['before']} -> {got['after']}"))
        return units

    def _check_curation(self, got: dict, exp: dict) -> list[tuple[str, bool, str]]:
        units = [("dedup_exact", got["exact"] == exp["exact"],
                  f"{len(got['exact'])} groups, want {len(exp['exact'])}")]

        pairs = set(got["pairs"])
        recall = len(pairs & exp["near"]) / max(1, len(exp["near"]))
        bad = [
            (a, b) for a, b in pairs
            if a not in exp["keep"] or b not in exp["keep"] or not a < b
            or jaccard(self.texts[a], self.texts[b]) < MIN_PAIR_JACCARD
        ]
        units.append(("minhash_lsh_pairs", recall >= LSH_RECALL_FLOOR and not bad,
                      f"planted recall {recall:.3f}, violations {bad[:5]}"))

        comp = components(got["pairs"], sorted(exp["keep"]))
        want = {(i, c, i == c) for i, c in comp.items()}
        diff = set(got["survivors"]) ^ want
        units.append(("dedup_survivors", not diff,
                      f"{len(diff)} rows differ from union-find"))

        sem = {i: c for i, c, _s in got["semantic"]}
        truth = exp["sem_comp"]
        viol = [i for i, c in sem.items() if truth[i] != truth[c]]
        surv_ok = all(s == (i == c) for i, c, s in got["semantic"])
        planted = self.planted["base_vectors"]
        missed = [(a, b) for a, b in planted if sem.get(a) != sem.get(b)]
        recall = 1 - len(missed) / max(1, len(planted))
        ok = (set(sem) == set(truth) and not viol and surv_ok
              and recall >= SEM_RECALL_FLOOR)
        units.append(("semantic_dedup", ok,
                      f"violations {viol[:5]}, planted recall {recall:.3f}, "
                      f"missed {missed[:5]}"))

        got_top = {(q, n) for q, _rk, n in got["top"]}
        recall = len(got_top & exp["topk"]) / len(exp["topk"])
        ranks_ok = len(got["top"]) == exp["queries"] * TOPK
        units.append(("cosine_topk_ivf", recall >= IVF_RECALL_FLOOR and ranks_ok,
                      f"recall@{TOPK} {recall:.3f}, rows {len(got['top'])}"))
        return units

    def _check_day(self, day: dict, ids: set, want_top: list) -> tuple[bool, str]:
        lo = min(ids)
        planted = {
            (c, s) for c, s in self.planted["near_pairs"] if c in ids and s < lo
        }
        pairs = {(a, b) for a, b, _agree in day["pairs"]}
        recall = len(planted & pairs) / max(1, len(planted))
        bad = [
            (a, b) for a, b in pairs
            if a not in ids or b >= lo
            or jaccard(self.texts[a], self.texts[b]) < MIN_PAIR_JACCARD
        ]
        top_ok = day["top"] == want_top
        ok = recall >= LSH_RECALL_FLOOR and not bad and top_ok
        return ok, (
            f"planted recall {recall:.3f}, violations {bad[:5]}, "
            f"ivf equals in-memory {top_ok}"
        )

    def day_seconds(self, outs: list[dict]) -> float | None:
        walls = [d["wall_s"] for o in outs for d in o["days"]]
        return statistics.median(walls) if walls else None

    def derived(self, out: dict, vals: dict, totals: dict) -> dict:
        written = sum(
            vals.get(f"operators.dedup.{f}.output_bytes", 0)
            for f in ("write_minhash_index", "compact_minhash_index")
        )
        day_walls = [d["wall_s"] for d in out["days"]]
        return {
            "operators.dedup.write_amplification": written / self.text_bytes,
            "operators.dedup.index_files": out["index_files"],
            "streaming.incremental.day_s": statistics.median(day_walls),
            "streaming.incremental.batch_overhead_s": (
                (out["stream_s"] - sum(day_walls)) / len(day_walls)
            ),
        }
