"""Service entry point (reference: cdcagg_oai/serve.py — Tornado app wiring
settings → controller → HTTP; here: SparkSession → planner → facade → HTTP).

Run:
    python -m cessda_cdc_aggregator_oai_pmh_repo_handler_spark.serve \
        --corpus /data/studies_corpus \
        --oai-set-sources-path sources.yaml \
        --oai-set-configurable-path thematic.yaml \
        --port 6003

The corpus is a versioned table (sources.versioned_table), the store
streaming.ingest's ``merge_batch_versioned`` writes. The server serves the
table's current version at startup and keeps serving that version; a
directory without a ``_VERSION`` pointer is refused at startup. A plain
parquet corpus with the studies schema is imported once with

    VT.create(spark.read.parquet(src), dst)

Flags mirror the reference's names where they exist (--oai-set-sources-path,
--oai-set-configurable-path, per-format list sizes, port 6003 default,
/root/reference/cdcagg_oai/serve.py:56-117, metadataformats.py:162-167,
328-332)."""

from __future__ import annotations

import argparse

from .oai.facade import OAIFacade
from .oai.server import OAIHTTPServer
from .plans.query_builder import OAIQueryPlanner
from .session import build_session
from .sources import versioned_table as VT
from .sources.yaml_sets import load_source_defs, validate_configurable


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="CDC Aggregator OAI-PMH server (Spark)")
    p.add_argument("--corpus", required=True,
                   help="versioned-table directory holding the studies corpus")
    p.add_argument("--port", type=int, default=6003)
    p.add_argument("--base-url", default="http://localhost:6003/v0/oai")
    p.add_argument("--oai-set-sources-path", default=None)
    p.add_argument("--oai-set-configurable-path", default=None)
    p.add_argument("--oai-pmh-list-size", type=int, default=100)
    p.add_argument("--oai-pmh-list-size-oai-dc", type=int, default=None)
    p.add_argument("--oai-pmh-list-size-oai-ddi25", type=int, default=None)
    p.add_argument("--oai-pmh-list-size-oai-datacite", type=int, default=None)
    p.add_argument("--oai-pmh-deleted-records", default="persistent",
                   choices=("no", "transient", "persistent"))
    p.add_argument("--stylesheet-url", default=None)
    return p.parse_args(argv)


def build_app(args: argparse.Namespace, spark=None) -> OAIHTTPServer:
    """Wire settings → session → planner → facade → HTTP server (not yet
    started). Configure-time contracts mirror the reference: sources load
    once here; the configurable-set file is validated now and re-read per
    request. The corpus must be a versioned table; the planner serves the
    version that is current now."""
    from .oai import formats

    if not VT.is_table(args.corpus):
        raise ValueError(
            f"--corpus {args.corpus} is not a versioned table (no _VERSION); "
            "import a parquet corpus once with "
            "VT.create(spark.read.parquet(src), dst)")
    # plugin formats load at SERVER startup, never at library import
    # (/root/reference/cdcagg_oai/serve.py:98)
    formats.discover_entry_points()
    spark = spark or build_session("cdcagg-serve")
    source_defs = (load_source_defs(args.oai_set_sources_path)
                   if args.oai_set_sources_path else [])
    if args.oai_set_configurable_path:
        validate_configurable(args.oai_set_configurable_path)
    page_sizes = {}
    for prefix, flag in (("oai_dc", args.oai_pmh_list_size_oai_dc),
                         ("oai_ddi25", args.oai_pmh_list_size_oai_ddi25),
                         ("oai_datacite", args.oai_pmh_list_size_oai_datacite)):
        if flag is not None:
            page_sizes[prefix] = flag
    version = VT.current_version(args.corpus)
    planner = OAIQueryPlanner(
        VT.read(spark, args.corpus, version=version),
        source_defs=source_defs,
        configurable_path=args.oai_set_configurable_path,
        page_size=args.oai_pmh_list_size,
        page_sizes=page_sizes,
        vt_path=args.corpus,
        vt_version=version,
    )
    facade = OAIFacade(planner, base_url=args.base_url,
                       deleted_records=args.oai_pmh_deleted_records,
                       stylesheet_url=args.stylesheet_url)
    return OAIHTTPServer(facade, port=args.port)


def main(argv: list[str] | None = None) -> None:
    server = build_app(parse_args(argv)).start()
    print(f"serving OAI-PMH on http://127.0.0.1:{server.port}/v0/oai "
          f"(+ /metrics); Ctrl-C to stop")
    try:
        import signal

        signal.pause()
    except (KeyboardInterrupt, AttributeError):
        pass
    finally:
        server.stop()


if __name__ == "__main__":
    main()
