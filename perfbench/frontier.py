"""frontier-epoch: each op is one full frontier epoch at scale.

build_bloom over url_seen -> bloom-prefiltered anti_join_seen ->
attach_budgets -> pop_per_host, with popped AND deferred rows written to a
noop sink at full width (the engine's own shape: a count() would let
Catalyst prune the pop's exchanges). The data-proportional layers
(operators.urlseen, operators.politeness) do nearly all the work; the crawl
epoch loop, robots, checkpoints and RAG are absent.

Inputs are generated from the seed by an affine formula that both Spark and
numpy evaluate exactly, so the oracle recomputes every expected count and
checksum in numpy without asking the engine.
"""

from __future__ import annotations

import numpy as np

# Candidate-URL layout: ~1k hosts, host 0 hot with 25 % of the URLs, one
# third of the candidates already seen, plus seen URLs that are not
# candidates (the seen set is larger than its overlap with any epoch).
N_HOSTS = 1021
MOD = 2**31 - 1  # prime; (k * a + b) % MOD is a bijection on [0, MOD)
POP_FRACTION = 0.4  # per-host budget sized to pop ~40 % of the fresh rows
DELAY_S = 2.0  # engine default delay (midpoint of the 1-3 s window)


class Layout:
    def __init__(self, seed: int, n: int):
        rng = np.random.default_rng(seed)
        self.n = n
        self.extra_seen = n // 6
        self.a = int(rng.integers(1, MOD - 1))
        self.b = int(rng.integers(0, MOD - 1))
        self.tag = int(rng.integers(0, 10**6))
        fresh_est = n * 2 // 3
        self.budget = max(1, int(fresh_est * POP_FRACTION / N_HOSTS))
        # epoch seconds whose floor(epoch / delay) is exactly the budget
        self.epoch_seconds = (self.budget + 0.5) * DELAY_S

    # -- numpy side (oracle) ---------------------------------------------

    def np_cols(self, k: np.ndarray) -> dict[str, np.ndarray]:
        u = (k * self.a + self.b) % MOD
        host = np.where(u % 4 == 0, 0, 1 + (u // 4) % (N_HOSTS - 1))
        return {"u": u, "host": host, "seen": (u // 7) % 3 == 0,
                "depth": (u // 13) % 4, "priority": (u // 53) % 8, "seq": k}

    # -- Spark side (the program's input) --------------------------------

    def spark_rows(self, spark, start: int, stop: int, partitions: int):
        from pyspark.sql import functions as F

        from mcp_crawl4ai_rag_spark.functions.urls import url_hash

        k = F.col("id")
        u = (k * F.lit(self.a) + F.lit(self.b)) % F.lit(MOD)
        host_id = F.when(u % 4 == 0, F.lit(0)).otherwise(1 + F.floor(u / 4) % (N_HOSTS - 1))
        host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(f".s{self.tag}.example.com"))
        url = F.concat(F.lit("https://"), host, F.lit("/p/"), u.cast("string"),
                       F.lit("/"), k.cast("string"))
        return spark.range(start, stop, 1, partitions).select(
            url.alias("canonical_url"),
            url_hash(url).alias("url_hash"),
            host.alias("host"),
            F.concat(F.lit("/p/"), u.cast("string")).alias("path"),
            (F.floor(u / 13) % 4).cast("int").alias("depth"),
            (F.floor(u / 53) % 8).cast("int").alias("priority"),
            k.alias("seq"),
            ((F.floor(u / 7) % 3) == 0).alias("__seen"),
        )


def expected(layout: Layout) -> dict:
    """Counts and seq checksums of fresh / popped / deferred rows, from the
    generator formula: fresh = candidates not seen (the bloom is lossless);
    popped = the first ``budget`` fresh rows of each host in (depth,
    priority, seq) order; deferred = the rest."""
    c = layout.np_cols(np.arange(layout.n, dtype=np.int64))
    fresh = ~c["seen"]
    host, depth, prio, seq = (c[x][fresh] for x in ("host", "depth", "priority", "seq"))
    order = np.lexsort((seq, prio, depth, host))
    h_sorted = host[order]
    first = np.r_[True, h_sorted[1:] != h_sorted[:-1]]
    start_of_run = np.maximum.accumulate(np.where(first, np.arange(len(h_sorted)), 0))
    rank = np.arange(len(h_sorted)) - start_of_run
    popped_seq = seq[order][rank < layout.budget]
    fresh_n, fresh_sum = int(fresh.sum()), int(seq.sum())
    return {
        "fresh": fresh_n,
        "popped": len(popped_seq),
        "popped_seq": int(popped_seq.sum()),
        "deferred": fresh_n - len(popped_seq),
        "deferred_seq": fresh_sum - int(popped_seq.sum()),
        "seen_in_candidates": int(c["seen"].sum()),
    }


class FrontierEpoch:
    throughput_kind = "epoch"

    def __init__(self, sess, seed: int, n: int, partitions: int):
        from pyspark.sql import functions as F

        from mcp_crawl4ai_rag_spark import local_ckpt

        self.layout = lay = Layout(seed, n)
        rows = lay.spark_rows(sess.spark, 0, n, partitions)
        self.frontier = local_ckpt(rows.drop("__seen"))
        seen_rows = rows.where(F.col("__seen")).unionByName(
            lay.spark_rows(sess.spark, n, n + lay.extra_seen, partitions)
        )
        self.url_seen = local_ckpt(seen_rows.select("url_hash", "canonical_url"))
        # |url_seen| is the caller's knowledge (the crawl loop tracks it)
        self.seen_total = int(lay.np_cols(np.arange(n, dtype=np.int64))["seen"].sum()) \
            + lay.extra_seen
        self.work_units = n
        self.want = None
        self.hashes = None

    def prepare(self, kind: str):
        return None

    def op(self, kind: str, arg, tracer, span) -> dict:
        """One epoch; returns the observed counts and seq checksums."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from mcp_crawl4ai_rag_spark import local_ckpt
        from mcp_crawl4ai_rag_spark.operators.politeness import attach_budgets, pop_per_host
        from mcp_crawl4ai_rag_spark.operators.urlseen import anti_join_seen, build_bloom

        with span("urlseen.build_bloom"):
            bloom = build_bloom(self.url_seen, "url_hash", expected=self.seen_total)
        with span("urlseen.anti_join"):
            fresh = anti_join_seen(self.frontier, self.url_seen, bloom)
            if tracer is not None:
                # materialise at the boundary so the pop is timed alone
                fresh = local_ckpt(fresh)
        with span("politeness.pop"):
            with_b = attach_budgets(fresh, None, None, epoch_seconds=self.layout.epoch_seconds)
            popped, deferred = pop_per_host(with_b, None)
            obs_p, obs_d = Observation(), Observation()
            agg = (F.count(F.lit(1)).alias("n"), F.sum("seq").alias("s"))
            popped.observe(obs_p, *agg).write.format("noop").mode("overwrite").save()
            deferred.observe(obs_d, *agg).write.format("noop").mode("overwrite").save()
        p, d = obs_p.get, obs_d.get
        return {"popped": int(p["n"]), "popped_seq": int(p["s"] or 0),
                "deferred": int(d["n"]), "deferred_seq": int(d["s"] or 0),
                "bloom": bloom, "_frames": (fresh,)}

    def check(self, kind: str, got: dict, plant_fault: bool = False) -> list[str]:
        if self.want is None:
            self.want = expected(self.layout)
        want = dict(self.want)
        if plant_fault:
            want["popped"] += 1
        keys = ("popped", "popped_seq", "deferred", "deferred_seq")
        return [f"{k}: got {got[k]} want {want[k]}" for k in keys if got[k] != want[k]]

    def layer_facts(self, kind: str, got: dict, scan_rows) -> dict:
        if self.hashes is None:
            self.hashes = self.frontier.select("url_hash").toPandas()["url_hash"].to_numpy()
        bloom = got["bloom"]
        positives = int(bloom.contains_hashes(self.hashes.astype(np.int64)).sum())
        fp = positives - self.want["seen_in_candidates"]
        return {
            "urlseen.bloom_bytes": sum(s.bits.nbytes for s in getattr(bloom, "shards", [bloom])),
            "urlseen.fresh_rows": got["popped"] + got["deferred"],
            "urlseen.bloom_positive_rows": positives,
            "urlseen.bloom_fp_ratio": fp / positives if positives else 0.0,
            "politeness.popped_rows": got["popped"],
            "politeness.deferred_rows": got["deferred"],
        }
