"""spark-submit job: build the inverted index from a webpages table.

    spark-submit --py-files mecab_ko_lucene_analyzer_spark.zip \
        jobs/build_index.py --input /path/webpages_parquet \
        --output /path/index --lang ko

(or ``--synthesize N`` to index the deterministic synthetic corpus).
Resumable: rerunning skips checkpointed stages (see index/manifest.py).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="webpages parquet path")
    ap.add_argument("--synthesize", type=int, default=0, help="generate N synthetic docs instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lang", default="ko")
    ap.add_argument("--mode", default="standard", choices=["standard", "keyword", "similarity"])
    ap.add_argument("--compound-noun-min-length", type=int, default=3)
    ap.add_argument(
        "--warc",
        action="store_true",
        help="treat --input as WARC archives (glob ok): records are "
        "parsed, text extracted, and language labeled before indexing",
    )
    ap.add_argument(
        "--respect-noindex",
        action="store_true",
        help="drop pages carrying a robots noindex meta directive "
        "before analysis (requires the html column)",
    )
    ap.add_argument(
        "--extract-html",
        action="store_true",
        help="derive the text column from the html:binary column before "
        "indexing (deterministic Catalyst extraction — for crawls that "
        "ship raw pages without pre-extracted text)",
    )
    ap.add_argument(
        "--with-anchors",
        action="store_true",
        help="also build the incoming-anchor field (anchor_postings + "
        "anchor_doc_stats + anchor_corpus_stats; requires the html "
        "column) — served by engine.search_fielded / jobs/query.py "
        "--anchor-weight",
    )
    ap.add_argument(
        "--anchor-external-only",
        action="store_true",
        help="anchor field: keep only cross-host links (drop same-site "
        "nav boilerplate)",
    )
    ap.add_argument(
        "--with-titles",
        action="store_true",
        help="also build the <title> field (title_postings + stats; "
        "requires the html column) — served by engine.search_fielded "
        "title_weight / jobs/query.py --title-weight",
    )
    ap.add_argument(
        "--with-forward",
        action="store_true",
        help="also build the doc-keyed forward table (doc_id -> sorted "
        "(term, tf) array; the Lucene term-vectors analogue) — makes "
        "by-doc access (more-like-this seed fetch) a doc_id-pruned "
        "row-group lookup instead of a full postings scan",
    )
    ap.add_argument(
        "--host-ranks",
        default="",
        help="host_ranks table from jobs/webgraph.py: also write the "
        "doc_boosts quality prior (host log-centrality per docID) — "
        "served by engine.search_boosted / jobs/query.py --boost-weight",
    )
    ap.add_argument(
        "--freshness-half-life",
        type=float,
        default=None,
        metavar="DAYS",
        help="also write a recency prior into doc_boosts: "
        "boost = 2^(-age_days/DAYS) from the pages' warc_ts against "
        "the corpus max timestamp (summed with the --host-ranks prior "
        "when both are given) — served by engine.search_boosted / "
        "jobs/query.py --boost-weight",
    )
    ap.add_argument(
        "--publish",
        metavar="NAMESPACE",
        help="after the build, publish the index tables to this Iceberg "
        "catalog namespace (e.g. iceberg.search); requires a configured "
        "spark.sql.catalog + the iceberg-spark-runtime jar",
    )
    args = ap.parse_args()

    from mecab_ko_lucene_analyzer_spark.index import build_and_write
    from mecab_ko_lucene_analyzer_spark.plans import get_spark
    from mecab_ko_lucene_analyzer_spark.sources import (
        publish_index,
        read_table,
        synthesize_webpages,
    )

    spark = get_spark(app_name="build-index")
    if args.synthesize:
        pages = synthesize_webpages(spark, args.synthesize)
    elif args.input and args.warc:
        from mecab_ko_lucene_analyzer_spark.sources import warc_to_webpages

        # noindex applies inside the composition (header + meta
        # channels); the generic html-only filter below is redundant
        # for this path
        pages = warc_to_webpages(
            spark, args.input, respect_noindex=args.respect_noindex
        )
    elif args.input:
        # parquet path or Iceberg catalog identifier (cat.db.webpages)
        pages = read_table(spark, args.input)
    else:
        ap.error("--input or --synthesize required")
    if args.respect_noindex and not (args.input and args.warc):
        from mecab_ko_lucene_analyzer_spark.sources import noindex_of

        # narrow filter before extraction/tokenization — excluded
        # pages never pay the analysis chain
        pages = pages.filter(~noindex_of("html"))
    if args.extract_html:
        from mecab_ko_lucene_analyzer_spark.sources import extract_html_text

        pages = extract_html_text(pages)
    build_and_write(
        pages,
        args.output,
        mode=args.mode,
        compound_noun_min_length=args.compound_noun_min_length,
        lang_filter=args.lang or None,
        with_anchors=args.with_anchors,
        anchor_external_only=args.anchor_external_only,
        with_titles=args.with_titles,
        with_forward=args.with_forward,
        host_ranks=(
            read_table(spark, args.host_ranks) if args.host_ranks else None
        ),
        freshness_half_life=args.freshness_half_life,
    )
    with open(f"{args.output}/manifest.json") as f:
        print(json.dumps(json.load(f), indent=2))
    if args.publish:
        for ident in publish_index(spark, args.output, args.publish):
            print(f"published {ident}")
    spark.stop()


if __name__ == "__main__":
    main()
