"""The benchmark's workloads: seeded inputs, a fixed op list, checks.

Every workload follows one protocol, driven by ``run.py``:

- ``make_inputs()`` builds the seeded inputs (set-up; run more than
  once so set-up time is a median), then ``start()`` starts what the
  workload serves from (set-up, once);
- ``cycle()`` runs the fixed op list once through the engine's public
  functions, each call into a layer inside a tracer span, and returns
  what the checks need;
- ``traced_only(out)`` runs the layers that only the traced run
  measures (their cost would not fit the timed runs);
- ``check(out)`` returns a list of failures (empty when correct) and
  sets ``digests``, which must repeat for a seed;
- ``layer_metrics(groups)`` turns the traced cycle's spans and the
  reduced event log into per-layer metrics.

Inputs are pure functions of the seed; the engine only sees the
generated tables.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.error
import urllib.request

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracles
from tracing import layer_stats

from aduana_spark.datagen import page_url, synth_pages
from aduana_spark.extraction import extract_pages, raw_edges
from aduana_spark.frontier.bf_scheduler import frontier_topk
from aduana_spark.graph import (
    CheckpointManager,
    bfs_depths,
    build_edges,
    build_vertices,
    connected_components,
    hits,
    label_propagation,
    pagerank,
    triangle_count,
)
from aduana_spark.graph.builder import edges_with_ids
from aduana_spark.pipeline.dedup import minhash_lsh_candidates, minhash_signatures


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _materialize(df):
    """Compute ``df`` now and cut its lineage, so its work is charged
    to the layer that produced it."""
    return df.localCheckpoint(eager=True)


def _allclose(got: dict, ref: dict, atol: float) -> bool:
    return got.keys() == ref.keys() and np.allclose(
        [got[k] for k in ref], list(ref.values()), rtol=0, atol=atol
    )


def near_duplicate_corpus(seed: int, n_base: int, copies: int, words: int,
                          vocab: int, edit_rate: float) -> list[str]:
    """``n_base`` random documents, each followed by ``copies`` copies
    with every word replaced at ``edit_rate``; doc ids are positions."""
    rng = np.random.default_rng(seed)
    names = np.array([f"w{i}" for i in range(vocab)])
    docs = []
    for _ in range(n_base):
        base = rng.integers(0, vocab, words)
        docs.append(" ".join(names[base]))
        for _ in range(copies):
            w = base.copy()
            edit = rng.random(words) < edit_rate
            w[edit] = rng.integers(0, vocab, int(edit.sum()))
            docs.append(" ".join(names[w]))
    return docs


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work_dir = work_dir
        self.digests: dict[str, str] = {}

    def start(self) -> None:
        pass

    def traced_only(self, out: dict) -> None:
        pass

    def close(self) -> None:
        pass

    def span_metrics(self, groups, layer: str) -> dict[str, float]:
        """Spark work and robustness counters of ``layer``'s last call."""
        sp = self.tracer.of(layer)[-1]
        st = layer_stats(groups, self.name, layer)
        return {
            f"{layer}.wall_s": sp.wall_s,
            f"{layer}.jobs": st.jobs,
            f"{layer}.tasks": st.tasks,
            f"{layer}.shuffle_write_bytes": st.shuffle_write_bytes,
            f"{layer}.spill_bytes": st.spill_bytes,
            f"{layer}.gc_s": st.gc_ms / 1000.0,
            f"{layer}.max_task_skew": st.max_task_skew,
            f"{layer}.cached_rdds_left": sp.rdds_after - sp.rdds_before,
        }

    def iterative_metrics(self, groups, layer: str, res) -> dict[str, float]:
        """``span_metrics`` plus the superstep split of an
        ``IterativeResult``."""
        out = self.span_metrics(groups, layer)
        steps = [m.wall_sec for m in res.metrics]
        out.update({
            f"{layer}.setup_s": out[f"{layer}.wall_s"] - sum(steps),
            f"{layer}.superstep_p50_s": _p50(steps),
            f"{layer}.supersteps": res.n_iterations,
        })
        return out


# ------------------------------------------------------------ crawl_rank


class CrawlRank(Workload):
    """The batch path of a crawl: pages → extraction → builder →
    PageRank (checkpointed) → BFS → ranked frontier. The traced run
    adds the offline analytics on the same graph (HITS, components,
    label propagation, triangles) and MinHash-LSH dedup of a seeded
    near-duplicate corpus."""

    name = "crawl_rank"
    N_PAGES = 1000  # crawled pages; their links reach a 2x larger universe
    N_DOMAINS = 50
    #: with 32 links a page, PageRank(1e-6) takes 8 supersteps on about
    #: five seeds in six and 9 or 10 on the rest; with 8 links, 10 to 14
    AVG_LINKS = 32
    N_SEEDS = 20
    MAX_DEPTH = 3
    TOPK = 1000
    PER_DOMAIN_K = 50
    CKPT_EVERY = 5
    DEDUP = dict(n_base=300, copies=4, words=60, vocab=3000, edit_rate=0.05)
    SHINGLE_K = 3

    def make_inputs(self) -> None:
        pid = F.regexp_extract("url", r"/p(\d+)$", 1).cast("long")
        self.pages = _materialize(
            synth_pages(
                self.spark, n_pages=2 * self.N_PAGES, n_domains=self.N_DOMAINS,
                avg_links=self.AVG_LINKS, seed=self.seed,
            ).where(pid < self.N_PAGES)
        )
        rng = np.random.default_rng(self.seed)
        seed_ids = rng.choice(self.N_PAGES, self.N_SEEDS, replace=False)
        self.seed_urls = page_url(seed_ids, self.N_DOMAINS, self.seed).tolist()

    def cycle(self) -> dict:
        t, out = self.tracer, {}
        with t.span("extraction"):
            out["ex"] = ex = _materialize(extract_pages(self.pages))
        with t.span("graph.builder"):
            e = _materialize(build_edges(raw_edges(ex), only_cross_domain=True))
            out["v"] = v = _materialize(build_vertices(e))
            out["ie"] = ie = _materialize(edges_with_ids(e, v))
        with t.span("graph.pagerank"):
            out["pr"] = pagerank(ie, precision=1e-6)
            out["ranks"] = ranks = _materialize(out["pr"].ranks)
        seeds = v.where(F.col("url").isin(self.seed_urls)).select("id")
        with t.span("graph.bfs"):
            out["depth"] = depth = _materialize(
                bfs_depths(ie, seeds, max_depth=self.MAX_DEPTH)
            )
        with t.span("frontier.bf_scheduler"):
            crawled = self.pages.select("url", F.lit(1).cast("long").alias("n_crawls"))
            info = v.join(depth, "id").join(crawled, "url", "left").select(
                "url", F.coalesce("n_crawls", F.lit(0)).alias("n_crawls"), "depth"
            )
            # only pages the BFS reached from the seeds are scheduled
            schedule = v.join(depth, "id").join(ranks, "id").select(
                "url", F.col("rank").alias("score")
            )
            out["front"] = frontier_topk(
                schedule, info, k=self.TOPK, max_depth=self.MAX_DEPTH,
                per_domain_k=self.PER_DOMAIN_K,
            ).collect()
        self.out = out
        return out

    def traced_only(self, out: dict) -> None:
        t, ie = self.tracer, out["ie"]
        # the same PageRank, writing a checkpoint shard every CKPT_EVERY
        # supersteps; the timed cycle does not checkpoint
        out["ck"] = ck = CheckpointManager(os.path.join(self.work_dir, "ckpt"), "pagerank")
        with t.span("graph.checkpoint"):
            out["pr_ck"] = pagerank(ie, precision=1e-6, checkpoint=ck,
                                    checkpoint_interval=self.CKPT_EVERY)
            out["ranks_ck"] = _materialize(out["pr_ck"].ranks)
        with t.span("graph.hits"):
            out["hits"] = hits(ie, precision=1e-4)
            out["hits_ranks"] = _materialize(out["hits"].ranks)
        with t.span("graph.components"):
            out["cc"] = connected_components(ie)
            out["cc_ranks"] = _materialize(out["cc"].ranks)
        with t.span("graph.labelprop"):
            out["lp"] = label_propagation(ie, max_iters=5)
            out["lp_ranks"] = _materialize(out["lp"].ranks)
        with t.span("graph.triangles"):
            out["tri"] = triangle_count(ie).first()["n_triangles"]
        self.docs = near_duplicate_corpus(self.seed, **self.DEDUP)
        pdf = pd.DataFrame({"doc_id": np.arange(len(self.docs)), "text": self.docs})
        corpus = _materialize(self.spark.createDataFrame(pdf).repartition(4))
        # no threshold: every LSH candidate is kept, so the yield of the
        # Jaccard verification shows; the check applies 0.5
        with t.span("pipeline.dedup"):
            out["pairs"] = minhash_lsh_candidates(
                corpus, num_perm=64, bands=16, shingle_k=self.SHINGLE_K,
            ).collect()
        # the signature stage of the same call, timed on its own
        with t.span("pipeline.dedup.signatures"):
            minhash_signatures(
                corpus, num_perm=64, shingle_k=self.SHINGLE_K
            ).agg(F.sum(F.size("sig"))).first()

    def check(self, out) -> list[str]:
        fails = []
        want = dict(self.pages.select("url", "text").collect())
        if dict(out["ex"].select("url", "text").collect()) != want:
            fails.append("extraction: text differs from the generated text")
        ie = out["ie"].toPandas()
        src, dst = ie.src.values, ie.dst.values
        self.pr_ref, _ = oracles.pagerank(src, dst, precision=1e-6)
        if not _allclose(dict(out["ranks"].collect()), self.pr_ref, 1e-6):
            fails.append("pagerank: differs from the numpy reference")
        fails += self._check_frontier(out, set(want))
        self.raw_links = out["ex"].select(F.sum(F.size("links"))).first()[0]
        self.n_edges = len(ie)
        # counts that fix the cycle's work; they too must repeat for a seed
        self.digests["work"] = f"edges={self.n_edges} supersteps={out['pr'].n_iterations}"
        if "hits" in out:
            fails += self._check_analytics(out, src, dst)
        return fails

    def _check_analytics(self, out, src, dst) -> list[str]:
        fails = []
        if not _allclose(dict(out["ranks_ck"].collect()), self.pr_ref, 1e-6):
            fails.append("checkpointed pagerank: differs from the numpy reference")
        href, _ = oracles.hits(src, dst, precision=1e-4)
        hg = {r["id"]: (r["hub"], r["auth"]) for r in out["hits_ranks"].collect()}
        if not _allclose(hg, href, 1e-6):
            fails.append("hits: differs from the numpy reference")
        cref = oracles.components(src, dst)
        if dict(out["cc_ranks"].collect()) != cref:
            fails.append("components: labels differ from union-find")
        lp = dict(out["lp_ranks"].collect())
        if lp.keys() != cref.keys() or any(cref[lab] != cref[v] for v, lab in lp.items()):
            fails.append("labelprop: a label crosses a component")
        if out["tri"] != oracles.triangles(src, dst):
            fails.append("triangles: count differs from the reference")
        fails += self._check_dedup(out["pairs"])
        self.digests.update({
            "shards": str(len(out["ck"].iterations())),
            "labelprop": oracles.digest(lp.items()),
            "triangles": str(out["tri"]),
        })
        return fails

    def _check_frontier(self, out, crawled: set) -> list[str]:
        fails = []
        urls = [r["url"] for r in out["front"]]
        scores = [r["score"] for r in out["front"]]
        depth = dict(out["v"].join(out["depth"], "id").select("url", "depth").collect())
        if scores != sorted(scores, reverse=True):
            fails.append("frontier: not sorted by score")
        if not urls or crawled.intersection(urls):
            fails.append("frontier: empty or holds a crawled page")
        if any(depth.get(u, self.MAX_DEPTH + 1) > self.MAX_DEPTH for u in urls):
            fails.append("frontier: page beyond max depth")
        per_domain = pd.Series(urls, dtype=object).str.extract(r"//([^/]+)/")[0].value_counts()
        if len(per_domain) and per_domain.max() > self.PER_DOMAIN_K:
            fails.append("frontier: per-domain cap exceeded")
        # the page set, not the float scores: their last bits follow the
        # order in which Spark sums partial ranks
        self.digests["frontier"] = oracles.digest((u,) for u in urls)
        return fails

    def _check_dedup(self, rows) -> list[str]:
        """Every reported pair really has Jaccard >= 0.5; recall is
        measured against the planted pairs that do."""
        fails, found = [], set()
        self.candidates = len(rows)
        for r in rows:
            if r["jaccard"] < 0.5:
                continue
            a, b = r["id_a"], r["id_b"]
            j = oracles.jaccard(self.docs[a], self.docs[b], self.SHINGLE_K)
            if j < 0.5 or abs(j - r["jaccard"]) > 1e-9:
                fails.append(f"dedup: pair ({a},{b}) has Jaccard {j:.3f}")
            found.add((a, b))
        group = self.DEDUP["copies"] + 1
        planted = [
            (i, j)
            for b in range(0, len(self.docs), group)
            for i in range(b, b + group)
            for j in range(i + 1, b + group)
            if oracles.jaccard(self.docs[i], self.docs[j], self.SHINGLE_K) >= 0.5
        ]
        self.verified = len(found)
        self.recall = sum(p in found for p in planted) / max(len(planted), 1)
        self.digests["dedup"] = oracles.digest(found)
        return fails

    def layer_metrics(self, groups) -> dict[str, float]:
        t, out = self.tracer, self.out
        m = {}
        for layer, key in (("graph.pagerank", "pr"), ("graph.hits", "hits"),
                           ("graph.components", "cc"), ("graph.labelprop", "lp")):
            m.update(self.iterative_metrics(groups, layer, out[key]))
        m.update(self.span_metrics(groups, "graph.bfs"))
        m.update(self.span_metrics(groups, "graph.triangles"))
        ex = layer_stats(groups, self.name, "extraction")
        b = layer_stats(groups, self.name, "graph.builder")
        dd = layer_stats(groups, self.name, "pipeline.dedup")
        ck = out["ck"]
        its = ck.iterations()
        m.update({
            "extraction.wall_s": t.of("extraction")[-1].wall_s,
            "extraction.python_bytes_sent": ex.python_bytes_sent,
            "extraction.python_bytes_returned": ex.python_bytes_returned,
            "extraction.tasks": ex.tasks,
            "graph.builder.wall_s": t.of("graph.builder")[-1].wall_s,
            "graph.builder.shuffle_write_bytes": b.shuffle_write_bytes,
            "graph.builder.edges_out": self.n_edges,
            "graph.builder.dedup_ratio": self.n_edges / max(self.raw_links, 1),
            "graph.checkpoint.write_s":
                sum(ck.manifest(i)["checkpoint_write_sec"] for i in its),
            "graph.checkpoint.bytes": sum(
                os.path.getsize(os.path.join(root, f))
                for i in its
                for root, _, files in os.walk(ck.shard_path(i))
                for f in files
            ),
            "graph.checkpoint.shards": len(its),
            "frontier.topk_s": t.of("frontier.bf_scheduler")[-1].wall_s,
            "pipeline.dedup.wall_s": t.of("pipeline.dedup")[-1].wall_s,
            "pipeline.dedup.signatures_s": t.of("pipeline.dedup.signatures")[-1].wall_s,
            "pipeline.dedup.candidate_pairs": self.candidates,
            "pipeline.dedup.verified_pairs": self.verified,
            "pipeline.dedup.verify_yield": self.verified / max(self.candidates, 1),
            "pipeline.dedup.recall": self.recall,
            "pipeline.dedup.python_bytes_sent": dd.python_bytes_sent,
            "pipeline.dedup.shuffle_write_bytes": dd.shuffle_write_bytes,
            "pipeline.dedup.spill_bytes": dd.spill_bytes,
            "pipeline.dedup.jobs": dd.jobs,
        })
        return m


# ------------------------------------------------------------ frontier_serve


class FrontierServe(Workload):
    """One closed-loop spider against the REST server: rescore, then a
    fixed number of (GET one page, POST it as crawled with its seeded
    out-links) pairs."""

    name = "frontier_serve"
    UNIVERSE = 5000
    N_DOMAINS = 50
    N_SEEDS = 10
    LINKS = 8
    PAIRS_PER_RESCORE = 2

    def make_inputs(self) -> None:
        self.urls = page_url(np.arange(self.UNIVERSE), self.N_DOMAINS, self.seed)
        self.index = {u: i for i, u in enumerate(self.urls)}
        seeds = np.random.default_rng(self.seed).choice(
            self.UNIVERSE, self.N_SEEDS, replace=False
        )
        self.seed_urls = [self.urls[i] for i in seeds]

    def start(self) -> None:
        """Start the server. Its settings ingest the seeds through the
        engine, which takes seconds, so this runs once per run."""
        from aduana_spark.api import PageRankScorer
        from aduana_spark.server import server_from_settings

        self.server = server_from_settings(self.spark, {
            "SCORER": PageRankScorer,
            "SOFT_CRAWL_LIMIT": 0.25,
            "HARD_CRAWL_LIMIT": 100.0,
            "SEEDS": self.seed_urls,
        }).serve()
        self.served: list[str] = []
        self.status: list[str] = []
        self.lat: dict[str, list[float]] = {"get": [], "post": []}
        b = self.server.backend
        self.tracer.wrap(b, "page_crawled", "api.page_crawled")
        self.tracer.wrap(b.page_db, "add_batch", "frontier.page_info")
        self.tracer.wrap(b.scheduler, "requests", "frontier.bf_scheduler")
        self.tracer.wrap(b.scheduler, "update_scores", "api.rescore")
        self.tracer.wrap(b.scheduler.scorer, "update", "graph.pagerank")

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.close()
            self.server = None

    def _links(self, url: str) -> list[list]:
        i = self.index[url]
        g = np.random.default_rng([self.seed, i])
        tgt = (self.UNIVERSE * g.random(self.LINKS) ** 3).astype(np.int64)
        return [[self.urls[j], 0.0] for j in tgt if j != i]

    def _http(self, req, kind: str, ok: int) -> bytes | None:
        """Send one request; a status other than ``ok`` is a failure."""
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                body, code = resp.read(), resp.status
        except urllib.error.HTTPError as e:
            body, code = None, e.code
        self.lat[kind].append((time.perf_counter() - t0) * 1000.0)
        if code != ok:
            self.status.append(f"{kind} returned {code}")
            return None
        return body

    def cycle(self) -> dict:
        base = self.server.url
        n_served = len(self.served)
        self.server.backend.scheduler.update_scores()
        for _ in range(self.PAIRS_PER_RESCORE):
            body = self._http(base + "/request?n=1", "get", 200)
            got = json.loads(body) if body is not None else None
            if not isinstance(got, list):
                self.status.append("GET /request did not return a list")
                continue
            for url in got:
                self.served.append(url)
                data = json.dumps({"url": url, "links": self._links(url)}).encode()
                req = urllib.request.Request(
                    base + "/crawled", data=data,
                    headers={"Content-Type": "application/json"}, method="POST",
                )
                self._http(req, "post", 201)
        return {"served": len(self.served) - n_served}

    def check(self, out) -> list[str]:
        fails, self.status = self.status, []
        if len(set(self.served)) != len(self.served):
            fails.append("a URL was served twice")
        if not out["served"]:
            fails.append("no page was served")
        return fails

    def layer_metrics(self, groups) -> dict[str, float]:
        t = self.tracer
        n_posts = max(len(self.lat["post"]), 1)
        handler = [s.wall_s * 1000 for s in t.of("api.page_crawled")]
        requests = t.of("frontier.bf_scheduler")
        rescore = t.of("api.rescore")
        post_p50 = _p50(self.lat["post"])
        m = self.span_metrics(groups, "graph.pagerank")
        m.update({
            "serve.post_crawled_p50_ms": post_p50,
            "serve.get_request_p50_ms": _p50(self.lat["get"]),
            "frontier.requests_p50_ms": _p50([s.wall_s * 1000 for s in requests]),
            "frontier.requests_jobs":
                layer_stats(groups, self.name, "frontier.bf_scheduler").jobs / max(len(requests), 1),
            "frontier.add_batch_p50_ms":
                _p50([s.wall_s * 1000 for s in t.of("frontier.page_info")]),
            "frontier.add_jobs_per_page":
                layer_stats(groups, self.name, "frontier.page_info").jobs / n_posts,
            "api.page_crawled_p50_ms": _p50(handler),
            "api.rescore_s": _p50([s.wall_s for s in rescore]),
            "api.rescore_jobs":
                layer_stats(groups, self.name, "api.rescore").jobs / max(len(rescore), 1),
            "api.cached_rdds_per_op": _p50(
                [s.rdds_after - s.rdds_before for s in t.of("api.page_crawled") + requests]
            ),
            "server.http_overhead_ms": post_p50 - _p50(handler),
        })
        return m


WORKLOADS = {w.name: w for w in (CrawlRank, FrontierServe)}
