"""Routing snapshot: what the planner decides and which files it keeps.

Usage (from the repository root):

    python plans/routing_snapshot.py OUT.jsonl --index DIR --data DIR \
        [--sf-dir DIR] [--cpus N]

Writes one JSON line per entry, sorted keys, so two snapshots diff line by
line. Every entry lists the ``choose_backing`` calls its statement made,
each as (backing, cube, relation notes, sorted kept ``_file_key``s of the
backing's DataFrame). Entries:

- ``adhoc/<seed>/<i>``: the first 200 statements of perfbench's
  ``adhoc_olap`` stream at seeds 1-3 (a statement repeated across seeds
  is planned once), cubes on disk;
- ``dashboard/<name>`` and ``dashboard_pinned/<name>``: the 16
  ``dashboard_repeat`` statements, before and after ``cache_cubes()``;
- ``zoo/<kind>/<name>/<i>``: ``planner.prune_files`` over the pruning-test
  filter zoo (``tests/test_file_pruning.prune_zoo``) on the flat table,
  every cube and every projection of ``--index``;
- ``fine/...`` and ``fine_zoo/...``: the seed-1 ``adhoc_olap`` statements,
  the dashboard statements and the zoo again, over a floor-free TPC-H
  build of ``--sf-dir`` (``target_file_bytes=0``: multi-file cubes and
  projections, which the byte floor collapses to one file each at the
  perfbench scale);
- ``entry/<name>``: every ``__spark_entry__.queries()`` query, built (not
  collected) over ``--sf-dir`` (default /root/testdata/sf0.001), whose
  indexes ``build_or_load_index`` takes from ``.olap_cache``.

``--index`` and ``--data`` are a perfbench read index and its star tables
(``.bench_build/perfbench/fixture-*.json``: ``index.read``, ``read_data``).
Kept files are compared by index-relative key, so compare two trees over
the same index files: index builds differ in part-file names.
"""

import argparse
import json
import os
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

ADHOC_SEEDS = (1, 2, 3)
ADHOC_PER_SEED = 200


def _relation_notes(notes) -> list:
    return [
        n for n in notes
        if "relation:" in n or "covers the scan" in n or "pruned scan" in n
    ]


class Recorder:
    """Wraps ``planner.choose_backing`` and keeps what each call decided."""

    def __init__(self):
        from pysparkline import planner
        from pysparkline.index import _file_key

        self.calls: list = []
        orig = planner.choose_backing

        def choose_backing(*a, **kw):
            backing, decision = orig(*a, **kw)
            files = sorted(_file_key(f) for f in backing.df.inputFiles())
            self.calls.append({
                "backing": decision.backing,
                "cube": decision.cube_name,
                "relation": _relation_notes(decision.notes),
                "files": files,
            })
            return backing, decision

        planner.choose_backing = choose_backing

    def run(self, build) -> dict:
        self.calls = []
        try:
            build()
            err = None
        except Exception as e:  # noqa: BLE001 — recorded, compared as is
            err = type(e).__name__
        return {"plans": self.calls, "error": err}


def _zoo(idx, tag: str) -> list:
    from pysparkline import planner
    from pysparkline.index import _file_key
    from tests.test_file_pruning import prune_zoo

    out = []
    relations = (
        [("flat", None)]
        + [("cube", n) for n in idx.manifest["cubes"]]
        + [("projection", n) for n in idx.manifest.get("projections", {})]
    )
    for kind, name in relations:
        for i, q in enumerate(prune_zoo()):
            pr = planner.prune_files(idx, kind, name, q)
            out.append((
                f"{tag}/{kind}/{name}/{i}",
                None if pr is None
                else {"kept": sorted(_file_key(f) for f in pr[0]),
                      "total": pr[1]},
            ))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--index", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cpus", default="4")
    args = ap.parse_args()

    import sqlgen
    from pysparkline import tpch
    from pysparkline.index import OlapIndex
    from pysparkline.session import OlapContext, get_spark

    spark = get_spark(app="routing-snapshot", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    rec = Recorder()
    entries: list = []

    idx = OlapIndex.load(spark, args.index)
    ctx = OlapContext(
        spark, idx, base_tables=tpch.load_star_tables(spark, args.data),
        fds=tpch.tpch_fds(),
    )
    seen: set = set()
    for seed in ADHOC_SEEDS:
        stream = sqlgen.adhoc_stream(seed)
        for i in range(ADHOC_PER_SEED):
            sql = next(stream)
            if sql in seen:
                continue
            seen.add(sql)
            entries.append((f"adhoc/{seed}/{i}", rec.run(lambda: ctx.sql(sql))))
    for pinned in (False, True):
        if pinned:
            idx.cache_cubes()
        tag = "dashboard_pinned" if pinned else "dashboard"
        for name, sql in sqlgen.DASHBOARD.items():
            # a fresh context each pass: the plan cache would serve repeats
            dctx = OlapContext(
                spark, idx, base_tables=ctx.base_tables, fds=tpch.tpch_fds()
            )
            entries.append((f"{tag}/{name}", rec.run(lambda: dctx.sql(sql))))
    entries += _zoo(idx, "zoo")

    cfg = tpch.tpch_index_config()
    cfg.target_file_bytes = 0
    fine = tpch.build_or_load_index(spark, args.sf_dir, config=cfg)
    fctx = OlapContext(
        spark, fine, base_tables=tpch.load_star_tables(spark, args.sf_dir),
        fds=tpch.tpch_fds(),
    )
    stream = sqlgen.adhoc_stream(ADHOC_SEEDS[0])
    fine_sqls = [next(stream) for _ in range(ADHOC_PER_SEED)]
    fine_sqls += list(sqlgen.DASHBOARD.values())
    for i, sql in enumerate(fine_sqls):
        entries.append((f"fine/{i}", rec.run(lambda: fctx.sql(sql))))
    entries += _zoo(fine, "fine_zoo")

    import __spark_entry__ as entry_mod

    for name, build in entry_mod.queries().items():
        entries.append(
            (f"entry/{name}", rec.run(lambda: build(spark, args.sf_dir)))
        )
    spark.stop()

    with open(args.out, "w") as fh:
        for key, val in entries:
            fh.write(json.dumps({"id": key, "value": val}, sort_keys=True))
            fh.write("\n")
    print(f"wrote {len(entries)} entries to {args.out}")


if __name__ == "__main__":
    main()
