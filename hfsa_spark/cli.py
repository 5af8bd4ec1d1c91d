"""CLI with the reference tool's command surface (SURVEY.md §3 entry 1).

Reference: picocli command tree at /root/reference
tool/.../HdfsFSImageTool.java:64-121 — commands summary (default),
smallfiles|sf, userusage|uu, path|p, inode|i; shared options -p dirs,
-o txt|csv|json, -fun user-regex.

Input difference by design: the reference takes a binary fsimage and
parses it per run; this engine takes the extracted ``inodes`` parquet
table (produced once by the extract layer — hfsa_spark.extract) so every
report is a columnar scan. ``fixture:fsi_small`` / ``fixture:fsi_small_h3_2``
load the built-in test namespaces instead.

Usage:
    python -m hfsa_spark INODES_PARQUET [summary|sf|uu|p|i] [options]
"""

from __future__ import annotations

import argparse
import sys
import time

from hfsa_spark.functions.ages import parse_age_ms
from hfsa_spark.functions.iec import parse_iec
from hfsa_spark.session import get_spark


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="hfsa-spark",
        description="Analyze an extracted HDFS namespace (inodes parquet) with Spark.",
    )
    ap.add_argument("fsimage", help="inodes parquet path, or fixture:<name>")
    ap.add_argument("-v", "--verbose", action="count", default=0)
    sub = ap.add_subparsers(dest="command")

    def common(p: argparse.ArgumentParser) -> None:
        p.add_argument("-p", "--path", default="/",
                       help="comma-separated start directories (default: /)")
        p.add_argument("-o", "--output", choices=["txt", "csv", "json"], default="txt")
        p.add_argument("-fun", "--filter-by-user", dest="user_filter", default=None,
                       help="filter user name by regexp")

    ps = sub.add_parser("summary", help="user/group/overall usage summary")
    common(ps)
    ps.add_argument("-s", "--sort", choices=["fs", "fc", "dc", "bc"], default="fs")

    pf = sub.add_parser("smallfiles", aliases=["sf"], help="small-file hotspots")
    common(pf)
    pf.add_argument("--fsl", "-fileSizeLimit", dest="fsl", default="2 MiB",
                    help="small-file size limit, IEC formatted (default 2 MiB)")
    pf.add_argument("--uphl", "-userPathHotspotLimit", dest="uphl", type=int, default=10,
                    help="max hotspot paths per report section")

    pu = sub.add_parser("userusage", aliases=["uu"], help="per-user size by location")
    common(pu)
    pu.add_argument("-u", "--user", required=True)
    pu.add_argument("-l", "--limit", type=int, default=20)
    pu.add_argument("-a", "--age", default=None, help="e.g. 60d — mtime older than")

    pp = sub.add_parser("path", aliases=["p"], help="recursive path listing")
    common(pp)

    pi = sub.add_parser("inode", aliases=["i"], help="inode detail by id or path")
    common(pi)
    pi.add_argument("refs", nargs="+", help="inode ids or absolute paths")

    return ap


def _is_binary_fsimage(source: str) -> bool:
    import os

    if not os.path.isfile(source):
        return False
    with open(source, "rb") as f:
        return f.read(8) == b"HDFSIMG1"


def _load_inodes(spark, source: str):
    if source.startswith("fixture:"):
        from hfsa_spark.extract import fixtures

        name = source.split(":", 1)[1]
        fn = getattr(fixtures, name, None)
        if fn is None:
            raise SystemExit(f"unknown fixture {name!r}")
        return fn(spark)
    if _is_binary_fsimage(source):  # reference parity: take the image directly
        from hfsa_spark.extract.fsimage import load_fsimage

        return load_fsimage(spark, source)
    return spark.read.parquet(source)


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    ap = _build_parser()
    # reference behavior: bare `hfsa-tool FILE` defaults to summary
    ns, _unknown = ap.parse_known_args(argv)
    if ns.command is None:
        argv = argv + ["summary"]
    args = ap.parse_args(argv)

    spark = get_spark("hfsa-cli")
    inodes = _load_inodes(spark, args.fsimage)
    dirs = [d.strip() for d in getattr(args, "path", "/").split(",")]
    out = sys.stdout

    cmd = args.command
    if cmd == "summary":
        from hfsa_spark.operators.summary import SummarySort, summary_report
        from hfsa_spark.sinks import summary_csv, summary_json, summary_txt

        for d in dirs:  # one report per start dir (T4 loop, :139-158)
            rep = summary_report(
                inodes, dir=d, user_filter=args.user_filter,
                sort=SummarySort(args.sort),
            )
            sink = {"txt": summary_txt, "csv": summary_csv, "json": summary_json}[args.output]
            try:
                text = sink(rep)
            except FileNotFoundError:
                raise SystemExit(f"summary: no such start dir {d!r}") from None
            out.write(text)
    elif cmd in ("smallfiles", "sf"):
        from hfsa_spark.operators.smallfiles import small_files_report
        from hfsa_spark.sinks import small_files_csv, small_files_json, small_files_txt

        for d in dirs:
            rep = small_files_report(
                inodes, dir=d, limit_bytes=parse_iec(args.fsl),
                user_filter=args.user_filter,
                hotspot_limit=args.uphl, user_hotspot_limit=args.uphl,
            )
            sink = {
                "txt": small_files_txt, "csv": small_files_csv, "json": small_files_json,
            }[args.output]
            out.write(sink(rep))
    elif cmd in ("userusage", "uu"):
        from hfsa_spark.operators.userusage import user_usage_report
        from hfsa_spark.sinks import user_usage_csv, user_usage_json, user_usage_txt

        age_ms = parse_age_ms(args.age)
        now_ms = int(time.time() * 1000)
        for d in dirs:
            rolled = user_usage_report(
                inodes, user=args.user, now_ms=now_ms, age_ms=age_ms, dir=d, limit=None
            )
            if args.output == "txt":
                out.write(
                    user_usage_txt(rolled, user=args.user, dir=d,
                                   limit=args.limit, age_ms=age_ms, now_ms=now_ms)
                )
            elif args.output == "csv":
                out.write(user_usage_csv(rolled))
            else:
                out.write(user_usage_json(rolled) + "\n")
    elif cmd in ("path", "p"):
        from hfsa_spark.operators.pathreport import path_report
        from hfsa_spark.sinks import path_report_csv, path_report_json, path_report_txt

        rep = path_report(inodes, dirs=dirs, user_filter=args.user_filter)
        filter_desc = f"user=~{args.user_filter}" if args.user_filter else "no filter"
        if args.output == "txt":
            out.write(path_report_txt(rep.listing, dirs=dirs, filter_desc=filter_desc))
        elif args.output == "csv":
            out.write(path_report_csv(rep.listing))
        else:
            out.write(path_report_json(rep) + "\n")
    elif cmd in ("inode", "i"):
        from hfsa_spark.operators.inodeinfo import inode_info
        from hfsa_spark.sinks import inode_info_csv, inode_info_json

        if args.output == "txt" and _is_binary_fsimage(args.fsimage):
            # exact reference parity: TextFormat proto dump straight off
            # the image (InodeInfoCommand txt printer)
            from hfsa_spark.extract.fsimage import inode_text_dump

            out.write(inode_text_dump(args.fsimage, args.refs))
            return 0

        matched = inode_info(inodes, args.refs)
        if args.output == "csv":
            out.write(inode_info_csv(matched))
        elif args.output == "json":
            out.write(inode_info_json(matched) + "\n")
        else:
            for r in matched.orderBy("id").collect():
                d = r.asDict()
                d.pop("ref", None)
                blocks = d.pop("blocks", None)
                out.write(f"id: {d.pop('id')}\n")
                for k, v in d.items():
                    if v is not None:
                        out.write(f"  {k}: {v}\n")
                if blocks:
                    out.write(f"  blocks: {len(blocks)}\n")
                    for b in blocks:
                        out.write(
                            f"    id={b['block_id']} genStamp={b['gen_stamp']} numBytes={b['num_bytes']}\n"
                        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
