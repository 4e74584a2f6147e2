"""Physical-plan audit: .explain("formatted") for the core operators.

Checks the plans have the shape we want at scale: column-pruned parquet
scans (ReadSchema without spans for the metadata join), pushed filters,
whole-stage codegen around the rlike classification, broadcast join for
robots rules, and no unexpected exchanges. Output goes to
BENCH/PLANS_r{N}.md for the record.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(out_path: str = "BENCH/PLANS.md"):
    from pyspark.sql import functions as F

    from cobweb_spark.config import CrawlConfig
    from cobweb_spark.operators import textops
    from cobweb_spark.operators.classify import select_internal
    from cobweb_spark.operators.extract import extract_links
    from cobweb_spark.operators.fetch import fetch_meta
    from cobweb_spark.session import get_spark
    from cobweb_spark.sources.corpus import cached_scale_corpus, load_documents

    spark = get_spark(app_name="explain-audit")
    corpus_path, seeds = cached_scale_corpus(
        n_hosts=40, pages_per_host=300, mega_host_factor=20, out_degree=12,
        media_ratio=0.25, cross_host_prob=0.10, seed=42,
    )
    docs = load_documents(spark, corpus_path)
    cfg = CrawlConfig(internal_urls=["http://*"], seed_urls=seeds)

    from cobweb_spark.model import FRONTIER_SCHEMA
    from cobweb_spark.urls import host_of

    frontier = spark.createDataFrame(
        [(u, host_of(u), 0, i, None) for i, u in enumerate(seeds)],
        FRONTIER_SCHEMA,
    ).withColumn("wave_rank", F.col("discovery_order"))

    sections = {}

    fetched = fetch_meta(frontier, docs, cfg)
    sections["fetch join (frontier ⋈ documents metadata)"] = plan_of(fetched)

    ex_in = docs.limit(1000).select(
        F.col("doc_id").alias("parent"),
        F.col("doc_id").alias("parent_url"),
        F.lit(0).cast("long").alias("parent_fetch_order"),
        F.lit(0).alias("parent_depth"),
        "spans",
    )
    cands = extract_links(ex_in)
    sections["link extraction (mapInPandas)"] = plan_of(cands)

    classifier = cfg.classifier(None)
    sel = select_internal(cands, classifier, cfg)
    sections["classification (rlike)"] = plan_of(sel)

    sf_docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sections["minhash signatures"] = plan_of(
        textops.minhash_signatures(sf_docs)
    )
    sections["scan pruning (metadata cols only)"] = plan_of(
        docs.select("doc_id", "status_code", "mime_type").filter(
            F.col("status_code") == 200
        )
    )

    sections["temperature mixing (broadcast rates)"] = plan_of(
        textops.temperature_sample(sf_docs)
    )
    sections["unigram scoring (pre-agg probe + broadcast vocab)"] = plan_of(
        textops.unigram_logprob(sf_docs)
    )

    checks = []
    meta_plan = sections["scan pruning (metadata cols only)"]
    checks.append(
        (
            "metadata scan prunes spans",
            "spans" not in meta_plan.split("ReadSchema")[-1],
        )
    )
    checks.append(
        ("filter pushed to scan", "PushedFilters: [" in meta_plan
         and "IsNotNull(status_code)" in meta_plan)
    )
    # classification must pipeline with extraction output — adding the
    # rlike filter must introduce NO new exchange (it is a narrow JVM
    # filter fused above the MapInPandas stage; formatted AQE plans do not
    # show codegen stages pre-execution, so exchange count is the signal)
    checks.append(
        (
            "classification adds no shuffle over extraction",
            sections["classification (rlike)"].count("Exchange")
            == sections["link extraction (mapInPandas)"].count("Exchange"),
        )
    )
    # formatted plans print each node in the tree AND the details block,
    # so N real exchanges count as 2N occurrences
    checks.append(
        (
            "minhash one shuffle (partial agg)",
            sections["minhash signatures"].count("Exchange") <= 2,
        )
    )
    checks.append(
        (
            "temperature mixing broadcasts the rate table (documents "
            "never shuffle)",
            "BroadcastHashJoin"
            in sections["temperature mixing (broadcast rates)"],
        )
    )
    # round-6 join hygiene: the unigram scoring join must probe the
    # PRE-AGGREGATED (doc_id, token, k) table against a BROADCAST vocab
    # — the only hash shuffles left are the vocab aggregation and the
    # final per-doc aggregation; the Zipf-skewed token stream itself is
    # never re-keyed by token alone
    uni_plan = sections["unigram scoring (pre-agg probe + broadcast vocab)"]
    checks.append(
        (
            "unigram scoring: broadcast vocab, ≤2 hash shuffles "
            "(no token-keyed probe shuffle)",
            "BroadcastHashJoin" in uni_plan
            and uni_plan.count("hashpartitioning") <= 2,
        )
    )

    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        f.write("# Physical plan audit\n\n")
        f.write("## Checks\n\n")
        for name, ok in checks:
            f.write(f"- [{'x' if ok else ' '}] {name}\n")
        for name, plan in sections.items():
            f.write(f"\n## {name}\n\n```\n{plan}\n```\n")
    for name, ok in checks:
        print(("PASS " if ok else "FAIL ") + name)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "BENCH/PLANS.md")
