"""Report the persisted index store's contents (r12).

Usage: python tools/index_store_report.py [--root PATH]

Pure driver-side metadata: walks each artifact family's SnapshotTable
manifests and prints versions, content tags (corpus fingerprint + policy
+ code fingerprint hash), file counts, row counts, and on-disk bytes —
the operational view a pipeline owner checks before trusting warm-start
numbers. No Spark session, no data reads.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_financial_report_spark import io as _io  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=_io.INDEX_STORE_ROOT)
    ap.add_argument("--json", default=None, help="also write the report here")
    args = ap.parse_args()
    root = args.root
    if not os.path.isdir(root):
        print(f"{root}: no index store (nothing persisted yet)")
        return 0
    report = {}
    for fam in sorted(os.listdir(root)):
        mdir = os.path.join(root, fam, "_manifests")
        if not os.path.isdir(mdir):
            continue
        versions = []
        for f in sorted(os.listdir(mdir)):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            rows = sum(fm.get("rows", 0) for fm in m.get("file_meta", {}).values())
            size = 0
            for rel in m.get("files", []):
                try:
                    size += os.path.getsize(os.path.join(root, fam, rel))
                except OSError:
                    pass
            versions.append(
                {
                    "version": m["version"],
                    "tag": (m.get("tag") or "")[:12],
                    "files": len(m.get("files", [])),
                    "rows": rows,
                    "bytes": size,
                }
            )
        report[fam] = versions
        live = versions[-1] if versions else None
        print(
            f"{fam:28s} versions={len(versions):3d} "
            + (
                f"latest: v{live['version']} tag={live['tag']} "
                f"rows={live['rows']} bytes={live['bytes']}"
                if live
                else "(empty)"
            )
        )
    total = sum(v["bytes"] for vs in report.values() for v in vs)
    print(f"{'TOTAL':28s} families={len(report)} bytes={total}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
