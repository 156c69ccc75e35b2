"""Output checks. A timed operation whose output fails its check counts
as failed, exactly like one that raised."""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd
import pyarrow.parquet as pq

import inputs

EXPECTED_CURATE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "expected_curate.json")
CURATE_COUNT_KEYS = ("input", "exact_dedup", "near_dedup", "semantic_dedup",
                     "quality", "bpe_merges", "mixed", "pack_buckets", "packs")


def _host_budgets(robots: pd.DataFrame, default: int) -> dict[str, int]:
    """Per-host per-round budget, the rule operators/politeness states:
    min(max_per_round, floor(60 / crawl_delay_s)) when a delay is set."""
    out = {}
    for _, r in robots.iterrows():
        b = int(r["max_per_round"])
        if float(r["crawl_delay_s"]) > 0:
            b = min(b, math.floor(60.0 / float(r["crawl_delay_s"])))
        out[r["host"]] = b
    return out


def check_crawl(spark, store: str, fixture_dir: str, cfg, metrics: list[dict],
                corrupt: bool = False) -> list[list[str]]:
    """One verdict per crawl round in ``metrics``: the list of failed
    clauses, empty when the round passes.

    Each round is compared with the single-threaded oracle run on the
    same fixture, with the clauses tests/test_crawl_parity.py asserts:
    the crawl order (priority DESC, urlhash ASC over the round's
    scheduled set) and every scheduled URL's result status. The last
    round also carries the end state: the status of every URL in
    frontier + archive, and that set of enqueued URLs against the
    oracle's seen set (the Bloom filters' item count must match it).
    Invariants per round: scheduled = fetched + failed + quarantined,
    new_urls + deduped = discovered, per-host scheduled <= budget, and
    no urlhash is fetched twice. ``corrupt`` drops one scheduled row of
    the first round before checking (self-test)."""
    from hyperion_crawler_spark.sources.tables import Catalog
    from tests.oracle import run_oracle

    fx = inputs.load_crawl_pandas(fixture_dir)
    last = max(m["round"] for m in metrics)
    oracle = run_oracle(fx, cfg, last)
    want_status: dict[int, dict[int, str]] = {}
    for r in oracle.results:
        want_status.setdefault(r["round"], {})[r["urlhash"]] = r["status"]

    cat = Catalog(store)
    res = (cat.table("results", "round").read(spark)
           .select("round", "urlhash", "host", "status").toPandas())
    cols = ["urlhash", "priority", "status"]
    state = cat.table("frontier", "shard").read(spark).select(*cols)
    archive = cat.table("archive", "shard").read(spark)
    if archive is not None:
        state = state.unionByName(archive.select(*cols))
    state = state.toPandas()
    bloom_items = sum(r["n_items"] for r in cat.table("seen_filters", "shard")
                      .read(spark).select("n_items").collect())
    if corrupt:
        first = res.index[res["round"] == metrics[0]["round"]]
        res = res.drop(first[:1])

    budgets = _host_budgets(fx["robots"], cfg.default_host_budget)
    prio = state[["urlhash", "priority"]]
    fetched_before: set[int] = set()
    verdicts = []
    for m in metrics:
        rnd = m["round"]
        rr = res[res["round"] == rnd].merge(prio, on="urlhash", how="left")
        got = rr.sort_values(["priority", "urlhash"],
                             ascending=[False, True])["urlhash"].tolist()
        status = rr["status"].value_counts()
        per_host = rr.groupby("host").size()
        fetched = set(rr.loc[rr["status"] == "fetched", "urlhash"])
        clauses = {
            "crawl_order": got == oracle.crawl_order[rnd - 1],
            "result_status": dict(zip(rr["urlhash"], rr["status"]))
            == want_status.get(rnd, {}),
            "scheduled_split": len(rr) == m["scheduled"] == m["fetched"]
            + m["failed"] + int(status.get("quarantined", 0)),
            "discovered_split": m["new_urls"] + m["deduped"] == m["discovered"],
            "host_budget": all(n <= budgets.get(h, cfg.default_host_budget)
                               for h, n in per_host.items()),
            "fetched_once": not fetched & fetched_before,
        }
        if rnd == last:
            enqueued = set(state["urlhash"])
            clauses["end_status"] = dict(zip(state["urlhash"], state["status"])) \
                == {h: row["status"] for h, row in oracle.frontier.items()}
            clauses["seen_set"] = (enqueued == oracle.seen
                                   and len(state) == len(enqueued)
                                   and bloom_items == len(enqueued))
        fetched_before |= fetched
        verdicts.append([k for k, ok in clauses.items() if not ok])
    return verdicts


def curate_digest(out_dir: str, corrupt: bool = False) -> str:
    """sha256 over the sorted curated doc_ids."""
    ids = sorted(pq.read_table(os.path.join(out_dir, "documents.parquet"),
                               columns=["doc_id"]).column("doc_id").to_pylist())
    if corrupt:
        ids = ids[1:]
    return hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()


def check_curate(stats: dict, out_dir: str, size: str,
                 corrupt: bool = False) -> tuple[bool, dict]:
    """Curation is partition-invariant, so stage counts and the curated
    doc_id digest must equal the recorded values for every seed."""
    got = {"counts": {k: stats.get(k) for k in CURATE_COUNT_KEYS},
           "doc_ids_sha256": curate_digest(out_dir, corrupt)}
    with open(EXPECTED_CURATE) as fh:
        want = json.load(fh).get(size)
    return got == want, got
