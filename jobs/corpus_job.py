"""Cluster entry point for training-corpus preparation — the downstream
half of the crawl: documents (parquet dir or catalog table) → dedup →
quality/Gopher gates → PII scrub → optional mixture sample → token-budget
packing → catalog table, tagged for reproducibility.

    spark-submit --master <cluster> --py-files <pkg.zip> jobs/corpus_job.py \
        --input /data/docs.parquet --catalog /warehouse --output-table corpus \
        --dedup lsh --min-quality 0.3 --gopher --budget 4096 --tag train-v1

Same recipe + same input snapshot = byte-identical corpus (deterministic
dedup, md5 sampling, offset packing); the tag pins the exact snapshot a
training run consumed, immune to later appends and vacuum.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="", help="parquet path of documents")
    ap.add_argument(
        "--input-pages", default="",
        help="parquet path of crawled PAGES (url_canon, warc_ts, html, "
        "lang) — runs pages_to_documents (main-content extraction, "
        "md5-url ids, host attribution) before the funnel",
    )
    ap.add_argument(
        "--input-table", default="",
        help="read documents from this catalog table instead of --input",
    )
    ap.add_argument("--catalog", required=True, help="table-catalog root")
    ap.add_argument("--output-table", default="corpus")
    ap.add_argument("--dedup", default="lsh", choices=["lsh", "exact"])
    ap.add_argument(
        "--cc-method", default="label", choices=["label", "star"],
        help="transitive closure: label propagation (rounds = cluster "
        "diameter) or large-star/small-star (O(log^2 n) rounds for "
        "chain-like pair graphs)",
    )
    ap.add_argument("--dedup-threshold", type=float, default=0.5)
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--gopher", action="store_true")
    ap.add_argument("--sample-rate", type=float, default=1.0)
    ap.add_argument("--budget", type=int, default=4096)
    ap.add_argument("--salt", default="")
    ap.add_argument(
        "--benchmark", default="",
        help="parquet of eval texts; docs sharing a 13-gram are dropped",
    )
    ap.add_argument(
        "--max-perplexity", type=float, default=None,
        help="LM perplexity cap (requires --lm-reference)",
    )
    ap.add_argument(
        "--lm", default="bigram", choices=["bigram", "kn", "kn3"],
        help="perplexity model family for --max-perplexity",
    )
    ap.add_argument(
        "--fold-confusables", action="store_true",
        help="homoglyph-robust exact-dedup keys (UTS #39 subset)",
    )
    ap.add_argument(
        "--max-bullet-frac", type=float, default=None,
        help="drop docs whose bullet-line fraction exceeds this",
    )
    ap.add_argument(
        "--max-code-frac", type=float, default=None,
        help="drop docs whose code-shaped-line fraction exceeds this",
    )
    ap.add_argument(
        "--lm-reference", default="",
        help="parquet of reference texts to fit the perplexity LM on",
    )
    ap.add_argument(
        "--min-coherence", type=float, default=None,
        help="drop docs whose adjacent-sentence overlap falls below "
             "this (single-sentence docs pass)",
    )
    ap.add_argument(
        "--min-novelty", type=float, default=None,
        help="keep docs whose n-gram novelty vs --novelty-reference "
             "is at least this (NULL-novelty short docs pass)",
    )
    ap.add_argument(
        "--novelty-reference", default="",
        help="parquet of reference texts for the novelty screen",
    )
    ap.add_argument(
        "--dsir-top-k", type=int, default=None,
        help="keep the k docs most like --dsir-reference (DSIR)",
    )
    ap.add_argument(
        "--dsir-reference", default="",
        help="parquet of target texts the DSIR selection aims toward",
    )
    ap.add_argument("--dsir-seed", type=int, default=0)
    ap.add_argument(
        "--clf-threshold", type=float, default=None,
        help="quality-classifier gate: keep docs scoring >= threshold "
             "(requires --clf-positive)",
    )
    ap.add_argument(
        "--clf-positive", default="",
        help="parquet of curated positive texts to fit the classifier on",
    )
    ap.add_argument("--tag", default="", help="tag the committed snapshot")
    ap.add_argument(
        "--render-sequences", action="store_true",
        help="also commit <output-table>_sequences: one trainer-ready row "
             "per bin (seq_text + doc-boundary token offsets)",
    )
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    args = ap.parse_args()
    n_inputs = sum(
        map(bool, (args.input, args.input_table, args.input_pages))
    )
    if n_inputs != 1:
        ap.error(
            "pass exactly one of --input / --input-table / --input-pages"
        )

    os.environ.setdefault("SPARK_SUBMIT_MODE", "1")
    from hk_housing_datahub_spark.session import get_spark
    from hk_housing_datahub_spark.pipelines import (
        CorpusRecipe,
        corpus_stats,
        prepare_training_corpus,
    )
    from hk_housing_datahub_spark.sources import TableCatalog

    spark = get_spark(app_name="hk_corpus_job")
    cat = TableCatalog(spark, args.catalog)
    if args.input_pages:
        from hk_housing_datahub_spark.pipelines.corpus import (
            pages_to_documents,
        )

        pg = spark.read.parquet(args.input_pages)
        # input_hint tables carry `url`; engine wave output carries the
        # canonicalized `url_canon` — accept both
        docs = pages_to_documents(
            pg, url_col="url_canon" if "url_canon" in pg.columns else "url"
        )
    elif args.input_table:
        docs = cat.read(args.input_table)
    else:
        docs = spark.read.parquet(args.input)
    recipe = CorpusRecipe(
        dedup=args.dedup,
        cc_method=args.cc_method,
        dedup_threshold=args.dedup_threshold,
        min_quality=args.min_quality,
        gopher=args.gopher,
        sample_rate=args.sample_rate,
        pack_budget=args.budget,
        max_perplexity=args.max_perplexity,
        lm=args.lm,
        max_bullet_frac=args.max_bullet_frac,
        fold_confusables=args.fold_confusables,
        max_code_frac=args.max_code_frac,
        min_coherence=args.min_coherence,
        min_novelty=args.min_novelty,
        dsir_top_k=args.dsir_top_k,
        dsir_seed=args.dsir_seed,
        clf_threshold=args.clf_threshold,
        salt=args.salt,
    )
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    lm_ref = (
        spark.read.parquet(args.lm_reference) if args.lm_reference else None
    )
    nov_ref = (
        spark.read.parquet(args.novelty_reference)
        if args.novelty_reference
        else None
    )
    dsir_ref = (
        spark.read.parquet(args.dsir_reference)
        if args.dsir_reference
        else None
    )
    clf_pos = (
        spark.read.parquet(args.clf_positive) if args.clf_positive else None
    )
    corpus = prepare_training_corpus(
        docs, recipe, id_col=args.id_col, text_col=args.text_col,
        benchmark=bench, lm_reference=lm_ref,
        novelty_reference=nov_ref, dsir_reference=dsir_ref,
        clf_positive=clf_pos,
    ).persist()
    stats = corpus_stats(docs, corpus).first()
    # cluster the output by (bucket, bin_id): training readers consume bin
    # ranges, and the range-sorted files + manifest stats make a bin-range
    # read prune to exactly its files
    snap = cat.append(
        args.output_table,
        corpus,
        cluster_by=["bucket", "bin_id"],
    )
    out = {
        "output_table": args.output_table,
        "snapshot": snap,
        **{k: int(stats[k]) for k in stats.asDict()},
    }
    if args.render_sequences:
        from hk_housing_datahub_spark.operators.packing import render_bins

        seqs = render_bins(corpus)
        seq_tbl = f"{args.output_table}_sequences"
        out["sequences_table"] = seq_tbl
        out["sequences_snapshot"] = cat.append(
            seq_tbl, seqs, cluster_by=["bucket", "bin_id"]
        )
        if args.tag:
            cat.tag(seq_tbl, args.tag, out["sequences_snapshot"])
    if args.tag:
        cat.tag(args.output_table, args.tag, snap)
        out["tag"] = args.tag
    corpus.unpersist()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
