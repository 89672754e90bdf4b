"""The three workload pipelines, written as a user of the package would
write them: public functions of ``sources.io`` and ``operators.*``
only, with a span around every call and every sink action.

Each ``iterate`` runs one closed-loop pass and returns what the output
check needs. Work done only for the check (reading the written corpus
back, collecting component labels) happens after the iteration's clock
stops, in ``result``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators import ckpt, dedup, mining, timeseries
from miningfrequentpattern_spark.sources import io

import checks
import gen


class MarketSparse:
    """FIMI text -> FP-Growth -> itemsets and rules, both collected."""

    name = "market-sparse"

    def __init__(self, seed: int, workdir: str):
        self.baskets = gen.market_baskets(seed)
        self.path = os.path.join(workdir, "baskets.txt")
        self.input_bytes = gen.write_fimi(self.baskets, self.path)
        self.records = int(self.baskets.sizes.size)
        # Throughput counts item rows: the unit PFP's counting pass scans.
        self.rows = int(self.baskets.sizes.sum())

    def iterate(self, spark, t) -> dict:
        with t.span("sources.read_transactions_text"):
            baskets = io.read_transactions_text(spark, self.path)
        with t.span("mining.fit_fpgrowth"):
            model = mining.fit_fpgrowth(baskets, min_support=gen.MARKET_MIN_SUPPORT, num_partitions=4)
        with t.span("mining.freq_itemsets"):
            fi = mining.freq_itemsets(model)
        with t.span("sink.collect_itemsets"):
            itemsets = fi.collect()
        with t.span("mining.association_rules"):
            ar = mining.association_rules(model)
        with t.span("sink.collect_rules"):
            rules = ar.collect()
        return {"itemsets": itemsets, "rules": rules}

    def reference(self) -> checks.MarketReference:
        return checks.MarketReference(self.baskets)

    def result(self, out: dict) -> dict:
        return {
            "itemsets": [(tuple(r["items"]), int(r["freq"])) for r in out["itemsets"]],
            "rules": [
                (tuple(r["antecedent"]), tuple(r["consequent"]),
                 float(r["confidence"]), float(r["lift"]), float(r["support"]))
                for r in out["rules"]
            ],
        }


class CorpusDedup:
    """exact dedup -> n-gram Jaccard pairs -> connected components ->
    cluster representatives -> parquet write of the kept corpus."""

    name = "corpus-dedup"

    def __init__(self, seed: int, workdir: str):
        self.corpus = gen.corpus(seed)
        self.dir = workdir
        self.input_bytes = gen.write_parquet(
            self.corpus.frame(), os.path.join(workdir, "documents.parquet")
        )
        self.out = os.path.join(workdir, "kept")
        self.records = self.rows = int(self.corpus.doc_id.size)

    def iterate(self, spark, t) -> dict:
        with t.span("sources.load_table"):
            docs = io.load_table(spark, self.dir, "documents")
        with t.span("dedup.exact_dedup"):
            unique = (
                dedup.exact_dedup(docs)
                .filter("is_kept")
                .select("doc_id", "lang", "text", "n_chars")
            )
        with t.span("dedup.ngram_jaccard_pairs"):
            pairs = dedup.ngram_jaccard_pairs(unique, threshold=gen.CORPUS_JACCARD)
        with t.span("dedup.connected_components"):
            comps = dedup.connected_components(pairs.select("doc_a", "doc_b"))
        with t.span("dedup.cluster_representatives"):
            reps = dedup.cluster_representatives(unique, comps).filter(
                "is_representative"
            )
            kept = unique.join(reps.select("doc_id", "component"), "doc_id")
        with t.span("sources.write_parquet"):
            io.write_parquet(kept, self.out)
        return {"components": comps, "pairs": pairs}

    def reference(self) -> checks.CorpusReference:
        return checks.CorpusReference(self.corpus)

    def result(self, out: dict) -> dict:
        comps = out["components"]
        labels = {int(r["doc_id"]): int(r["component"]) for r in comps.collect()}
        ckpt.release(comps)
        table = pq.read_table(self.out, columns=["doc_id", "component"])
        kept = dict(zip(table["doc_id"].to_pylist(), table["component"].to_pylist()))
        return {"labels": labels, "kept": kept}

    def output_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.out)
            for f in files
        )


def _ewma_metrics() -> list:
    y = F.col("ewma")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(y).alias("sum_y"),
        F.sum(y * F.col("user_id")).alias("sum_yu"),
        F.sum(y * (F.col("event_id") % 1009)).alias("sum_ye"),
    ]


def _ttl_metrics() -> list:
    k = F.col("is_kept").cast("long")
    u = F.col("user_id")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(k).alias("kept"),
        F.sum(k * u).alias("sum_ku"),
        F.sum(k * u * u).alias("sum_kuu"),
        F.sum(k * (F.col("event_id") % 1009)).alias("sum_ke"),
    ]


class EventRecurrence:
    """ewma and ttl_dedup over per-user series, each forced by its own
    noop sink. Digests ride on the sinks through ``observe``, which
    adds no job."""

    name = "event-recurrence"

    def __init__(self, seed: int, workdir: str):
        self.events = gen.events(seed)
        self.dir = workdir
        self.input_bytes = gen.write_parquet(
            self.events.frame(), os.path.join(workdir, "events.parquet")
        )
        self.records = self.rows = int(self.events.user_id.size)

    def iterate(self, spark, t) -> dict:
        obs_ewma, obs_ttl = Observation("ewma"), Observation("ttl")
        with t.span("sources.load_table"):
            ev = io.load_table(spark, self.dir, "events")
        with t.span("timeseries.ewma"):
            smoothed = timeseries.ewma(
                ev, ["user_id"], "ts", "value", gen.EVENT_ALPHA,
                tiebreak_col="event_id",
            ).observe(obs_ewma, *_ewma_metrics())
        with t.span("sink.noop_ewma"):
            smoothed.write.format("noop").mode("overwrite").save()
        with t.span("timeseries.ttl_dedup"):
            deduped = timeseries.ttl_dedup(
                ev, ["user_id"], "ts", ttl=f"{gen.EVENT_TTL_S // 60} minutes",
                tiebreak_col="event_id",
            ).observe(obs_ttl, *_ttl_metrics())
        with t.span("sink.noop_ttl"):
            deduped.write.format("noop").mode("overwrite").save()
        return {"ewma": obs_ewma, "ttl": obs_ttl}

    def reference(self) -> checks.EventsReference:
        return checks.EventsReference(self.events)

    def result(self, out: dict) -> dict:
        return {"ewma": dict(out["ewma"].get), "ttl": dict(out["ttl"].get)}


WORKLOADS = {w.name: w for w in (MarketSparse, CorpusDedup, EventRecurrence)}
