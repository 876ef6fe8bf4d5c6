"""CLI entry point — mirrors the reference's `py3dtiles` subcommands
(command_line.py:19-51) as spark-submit-able jobs.

Cluster launch (north_rule):

    python scripts/make_pyfiles_zip.py          # build dist/py3dtiles_spark.zip
    spark-submit --py-files dist/py3dtiles_spark.zip \
        --master <cluster> [--conf ...] \
        cli.py convert --input pages.parquet --output out/ --resume

Local: python -m py3dtiles_spark convert --n-docs 100000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="py3dtiles_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert", help="pages/points/las/xyz -> 3D Tiles")
    c.add_argument("--input", help="parquet of pages (url,warc_ts,html,text,lang) "
                                   "or points (point_id,x,y,z), or .las/.xyz "
                                   "point-cloud files (comma-separated)")
    c.add_argument("--srs-in", type=int, default=None)
    c.add_argument("--srs-out", type=int, default=None,
                   help="4978 (ECEF) — requires geodetic input (4326/4979)")
    c.add_argument("--fraction", type=int, default=100)
    c.add_argument("--n-docs", type=int, default=0,
                   help="generate a synthetic pages table instead of --input")
    c.add_argument("--output", required=True)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--overwrite", action="store_true",
                   help="delete the output folder first (reference "
                        "convert --overwrite)")
    c.add_argument("--benchmark", default=None, metavar="LABEL",
                   help="print 'LABEL,files,points,seconds' at the end "
                        "(reference convert --benchmark)")
    c.add_argument("--rgb", type=lambda v: v.lower() not in ("0", "false"),
                   default=True, help="export rgb attributes (default true)")
    c.add_argument("--color-scale", type=float, default=None,
                   help="force the LAS color scale instead of detecting it")
    c.add_argument("--skew", action="store_true")
    c.add_argument("--split-threshold", type=int, default=20000)
    c.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    c.add_argument("--write-pnts", action="store_true")
    c.add_argument("--graph", action="store_true",
                   help="write activity.svg/activity.json worker-"
                        "utilization artifacts (reference --graph, "
                        "convert.py:722-759) from the Spark event log")

    m = sub.add_parser("merge", help="federate tilesets")
    m.add_argument("--input", required=True,
                   help="parquet of tileset rows (tileset_id,min_x..max_z,"
                        "point_count), or a directory of */tileset.json")
    m.add_argument("--output", required=True)
    m.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))

    e = sub.add_parser("export", help="WKB features -> b3dm quadtree tileset")
    esrc = e.add_mutually_exclusive_group(required=True)
    esrc.add_argument("--wkb-dir",
                      help="directory of .wkb multipolygon files (S7) or a "
                           "parquet of (geom_id, wkb[, weight])")
    esrc.add_argument("--pg-url",
                      help="PostGIS JDBC url (S6, reference export -D): "
                           "jdbc:postgresql://host:port/db — ST_* transform "
                           "chain pushed into the database; needs the pg "
                           "JDBC driver on the Spark classpath")
    e.add_argument("--pg-table", help="table name (with --pg-url)")
    e.add_argument("--pg-geom-col", default="geom")
    e.add_argument("--pg-id-col", default="id")
    e.add_argument("--offset", nargs=3, type=float, metavar=("X", "Y", "Z"),
                   help="world offset of the (local) geometries — becomes "
                        "the root tileset transform (reference export -o)")
    e.add_argument("--output", required=True)
    e.add_argument("--texture-uri", default=None,
                   help="emit textured glb referencing this image uri "
                        "(parquet input must carry a `uv_wkb` binary "
                        "column: a same-topology 2D multipolygon of "
                        "texture coordinates — UVs are threaded through "
                        "the engine's own triangulation)")
    e.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))

    i = sub.add_parser("info", help="decode a .pnts or .b3dm file")
    i.add_argument("path")

    cu = sub.add_parser(
        "curate",
        help="documents parquet -> per-doc curation signals + kept subset "
             "(the training-data pipeline as one job: quality, lang, "
             "token counts, substring-dup rate, unigram-LM score, exact "
             "dedup, optional eval decontamination)")
    cu.add_argument("--input", required=True,
                    help="parquet with (doc_id, text[, ...])")
    cu.add_argument("--output", required=True)
    cu.add_argument("--eval-input", default=None,
                    help="parquet of eval docs (doc_id, text): flag docs "
                         "sharing shingles with it (decontamination)")
    cu.add_argument("--shingle-tokens", type=int, default=8)
    cu.add_argument("--min-quality", type=float, default=0.0)
    cu.add_argument("--max-dup-frac", type=float, default=1.0,
                    help="drop docs whose substring-duplication fraction "
                         "exceeds this")
    cu.add_argument("--dedup", choices=["none", "exact"], default="exact")
    cu.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))

    args = p.parse_args(argv)

    if args.cmd == "info":
        with open(args.path, "rb") as f:
            buf = f.read()
        try:
            if buf[:4] == b"b3dm":
                from py3dtiles_spark.sources.b3dm import parse_b3dm
                d = parse_b3dm(buf)
                out = {k: d[k] for k in (
                    "tile_byte_length", "bt_json_byte_length", "glb_version")}
            else:
                from py3dtiles_spark.sources.pnts import decode_pnts
                _, rgb, ft = decode_pnts(buf)
                out = {"points_length": ft["POINTS_LENGTH"],
                       "has_rgb": rgb is not None, "feature_table": ft}
        except ValueError as exc:
            p.error(f"{args.path}: {exc}")
        print(json.dumps(out))
        return 0

    from py3dtiles_spark.session import get_spark
    graph_log_dir = None
    if getattr(args, "graph", False):
        import tempfile
        graph_log_dir = tempfile.mkdtemp(prefix="spark_evlog_")
        os.environ["SPARK_GRAFT_EVENT_LOG_DIR"] = graph_log_dir
    spark = get_spark("py3dtiles-spark-cli", cpus=args.cpus)

    if args.cmd == "curate":
        from pyspark.sql import functions as F
        from py3dtiles_spark.functions.text import (
            contamination_stats, lang_id, quality_score,
            substring_dup_stats, token_count, unigram_logprob)
        from py3dtiles_spark.operators.dedup import exact_dedup
        docs = spark.read.parquet(args.input)
        base = docs.select("doc_id",
                           lang_id().alias("lang_guess"),
                           token_count().cast("long").alias("n_tokens"),
                           quality_score().alias("quality"))
        # LEFT joins: a doc with no tokens (empty/NULL text) has no
        # unigram rows and — for NULL text — no shingle rows either; it
        # must still appear in signals (kept=0) rather than silently
        # vanish from the outputs and the summary counts
        dup = substring_dup_stats(
            docs, shingle_tokens=args.shingle_tokens).drop("n_shingles")
        lm = unigram_logprob(docs).drop("n_tokens")
        signals = (base.join(dup, "doc_id", "left")
                   .join(lm, "doc_id", "left")
                   .withColumn("dup_frac",
                               F.coalesce("dup_frac", F.lit(0.0)))
                   .withColumn("dup_shingles",
                               F.coalesce("dup_shingles", F.lit(0))))
        if args.eval_input:
            ev = spark.read.parquet(args.eval_input)
            cont = contamination_stats(
                docs, ev, shingle_tokens=args.shingle_tokens) \
                .select("doc_id", "is_contaminated")
            signals = (signals.join(cont, "doc_id", "left")
                       .withColumn("is_contaminated",
                                   F.coalesce("is_contaminated",
                                              F.lit(0))))
        else:
            signals = signals.withColumn("is_contaminated",
                                         F.lit(0).cast("long"))
        if args.dedup == "exact":
            # selecting doc_id alone prunes `text` below the md5 exchange
            canonical = (exact_dedup(docs)
                         .select("doc_id",
                                 F.lit(1).cast("long").alias("is_canonical")))
            signals = (signals.join(canonical, "doc_id", "left")
                       .withColumn("is_canonical",
                                   F.coalesce("is_canonical", F.lit(0))))
        else:
            signals = signals.withColumn("is_canonical",
                                         F.lit(1).cast("long"))
        signals = signals.withColumn(
            "kept",
            ((F.col("is_canonical") == 1)
             & (F.col("is_contaminated") == 0)
             # token-less docs (NULL logprob) never pass the gate
             & F.col("logprob").isNotNull()
             & (F.col("quality") >= args.min_quality)
             & (F.col("dup_frac") <= args.max_dup_frac)).cast("long"))
        # the signals DAG carries two corpus-wide explode+join seams and
        # a window; persist so its three consumers (signals write, kept
        # join, summary agg) evaluate it once
        signals = signals.persist()
        try:
            signals.write.mode("overwrite") \
                .parquet(os.path.join(args.output, "signals"))
            # kept subset: original rows, executor-side write
            kept = (docs.join(signals.filter("kept = 1").select("doc_id"),
                              "doc_id"))
            kept.write.mode("overwrite") \
                .parquet(os.path.join(args.output, "kept"))
            # scalar aggs only cross the driver boundary; coalesce: sum
            # over zero rows is NULL on an empty input
            tot = signals.agg(
                F.count(F.lit(1)).alias("docs"),
                F.coalesce(F.sum("kept"), F.lit(0)).alias("kept"),
                F.coalesce(F.sum("is_contaminated"), F.lit(0))
                 .alias("contaminated"),
                F.coalesce(F.sum(F.when(F.col("is_canonical") == 0, 1)
                                 .otherwise(0)), F.lit(0))
                 .alias("dups_dropped")).collect()[0]
        finally:
            signals.unpersist()
        print(json.dumps({"docs": int(tot["docs"]),
                          "kept": int(tot["kept"]),
                          "contaminated": int(tot["contaminated"]),
                          "dups_dropped": int(tot["dups_dropped"])}))
        return 0

    if args.cmd == "export":
        from pyspark.sql import functions as F
        from py3dtiles_spark.operators.export import (
            assign_quadtree, build_b3dm_tiles,
            build_vector_tileset_distributed, node_boxes,
            triangulate_features, write_b3dm_files)
        if args.pg_url:
            if not args.pg_table:
                p.error("--pg-url requires --pg-table")
            from py3dtiles_spark.sources.postgis import postgis_features
            geoms = postgis_features(spark, args.pg_url, args.pg_table,
                                     args.pg_geom_col, args.pg_id_col)
        elif args.wkb_dir.endswith(".parquet"):
            geoms = spark.read.parquet(args.wkb_dir)
        else:
            # S7 WKB directory scan (reference export.py:273-292)
            geoms = (spark.read.format("binaryFile")
                     .option("pathGlobFilter", "*.wkb").load(args.wkb_dir)
                     .select(F.xxhash64("path").alias("geom_id"),
                             F.col("content").alias("wkb")))
        feats = triangulate_features(geoms)   # extra cols (weight) pass through
        assigned = assign_quadtree(
            feats, weight_col="weight" if "weight" in geoms.columns else None)
        tiles_dir = os.path.join(args.output, "tiles")
        # executor-side sink: tile bytes never stream through the driver
        # (reference per-node write loop, export.py:175-196)
        n_tiles = write_b3dm_files(
            build_b3dm_tiles(assigned, texture_uri=args.texture_uri),
            tiles_dir)
        # r7: distributed tileset assembly (the export-path twin of the
        # r6 octree fix) — subtree JSON is built executor-side and the
        # driver collects only O(4^k + shallow) rows, never the full
        # node list; the feature total is a scalar agg
        boxes = node_boxes(assigned).persist()
        nf = boxes.agg(F.sum("n_features")).collect()[0][0] or 0
        # reference export -o: translation transform on the root, geometry
        # stays local (export.py:286-291, column-major flatten)
        transform = None
        if args.offset:
            ox, oy, oz = args.offset
            transform = [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0,
                         0.0, 0.0, 1.0, 0.0, ox, oy, oz, 1.0]
        ts = build_vector_tileset_distributed(boxes, transform=transform)
        boxes.unpersist()
        with open(os.path.join(args.output, "tileset.json"), "w") as f:
            json.dump(ts, f)
        print(json.dumps({"features": int(nf), "tiles": n_tiles}))
        return 0

    if args.cmd == "merge":
        # a rows parquet that Spark wrote is a directory too: its marker
        # or part files tell it from a directory of tilesets
        if os.path.isdir(args.input) and not (
                os.path.exists(os.path.join(args.input, "_SUCCESS"))
                or glob.glob(os.path.join(args.input, "*.parquet"))):
            # reference `py3dtiles merge <dir>`: scan */tileset.json,
            # federate, write the master tileset + root overview pnts
            from py3dtiles_spark.operators.merge import merge_with_overviews
            doc = merge_with_overviews(spark, args.input, args.output)
            print(json.dumps({"children": len(doc["root"].get("children", [])),
                              "output": f"{args.output}/tileset.json"}))
            return 0
        from py3dtiles_spark.operators.merge import merge_tilesets
        rows = spark.read.parquet(args.input).collect()
        doc = merge_tilesets(rows)
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "tileset.json"), "w") as f:
            json.dump(doc, f)
        print(f"merged {len(rows)} tilesets -> {args.output}/tileset.json")
        return 0

    # convert
    import time
    from py3dtiles_spark.operators.tiling import TilingConfig
    t_start = time.time()
    if args.overwrite and os.path.isdir(args.output):
        import shutil
        shutil.rmtree(args.output)

    cfg = TilingConfig(split_threshold=args.split_threshold,
                       checkpoint_dir=os.path.join(args.output, "checkpoint"))
    paths = args.input.split(",") if args.input else []
    if paths and os.path.splitext(paths[0])[1].lower() in (".las", ".xyz"):
        from py3dtiles_spark.plans.convert import convert_files
        res = convert_files(spark, paths, out_dir=args.output,
                            srs_in=args.srs_in, srs_out=args.srs_out,
                            fraction=args.fraction, cfg=cfg, rgb=args.rgb,
                            color_scale=args.color_scale,
                            write_pnts=args.write_pnts, resume=args.resume)
    else:
        from py3dtiles_spark.plans.pipeline import tile_points
        from py3dtiles_spark.sources.pages import (
            generate_pages, pages_as_points)
        if args.n_docs:
            points = pages_as_points(generate_pages(spark, args.n_docs),
                                     skew=args.skew)
        else:
            points = spark.read.parquet(args.input)
            if "point_id" not in points.columns:
                points = pages_as_points(points, skew=args.skew)
        res = tile_points(spark, points, cfg, resume=args.resume,
                          out_dir=args.output, write_pnts=args.write_pnts)
    n_points = res.tiling.counters.get("points_assigned")
    print(json.dumps({"points": n_points,
                      "levels": len(res.tiling.counters["levels"]),
                      "tiles": res.n_tiles,
                      "root_scale": cfg.scale,
                      "tileset_docs": list(res.tileset_docs)}))
    if args.benchmark:
        # reference benchmark line (convert.py:668-673):
        # label,basenames,points,seconds
        names = (",".join(os.path.basename(f) for f in paths)
                 or f"{args.n_docs} docs")
        print(f"{args.benchmark},{names},{n_points},"
              f"{round(time.time() - t_start, 1)}")
    _emit_graph(spark, graph_log_dir, args.output)
    return 0


def _emit_graph(spark, log_dir, out_dir):
    """--graph: flush the event log (stop) and write the utilization
    artifacts next to the tileset (reference activity.svg analogue)."""
    if not log_dir:
        return
    import shutil
    cores = spark.sparkContext.defaultParallelism
    spark.stop()
    from py3dtiles_spark.plans.activity import write_activity_artifacts
    # the graph is a diagnostic artifact: a parse/render failure (e.g. an
    # empty event-log dir when a pre-existing SparkSession ignored the
    # eventLog conf) must not fail the CLI after a successful convert
    try:
        rep = write_activity_artifacts(log_dir, out_dir, cores=cores)
    except Exception as exc:  # noqa: BLE001
        print(f"warning: --graph artifacts skipped ({exc})", file=sys.stderr)
        shutil.rmtree(log_dir, ignore_errors=True)
        return
    shutil.rmtree(log_dir, ignore_errors=True)   # raw event log is large
    print(json.dumps({"activity": {
        "utilization": rep["utilization"], "tasks": rep["tasks"],
        "svg": os.path.join(out_dir, "activity.svg")}}))


if __name__ == "__main__":
    sys.exit(main())
