"""Build the --py-files zip for spark-submit (north rule packaging).

Usage:
    python tools/package_pyfiles.py [--out dist/ocr_processing_pipeline_spark.zip]
    spark-submit --py-files dist/ocr_processing_pipeline_spark.zip \\
        tools/submit_job.py --pages ... --gazetteers-dir ... --out ...

spark-submit runs a driver FILE, not a module: tools/submit_job.py is
that file, and it calls the job's CLI (pipeline/job.py::main).

The zip contains the package only (no tests/tools) so executors can import
``ocr_processing_pipeline_spark`` without the repo checkout.
"""

from __future__ import annotations

import argparse
import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_processing_pipeline_spark"


def build(out_path: str) -> str:
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg_root = os.path.join(REPO, PKG)
        for root, _, files in os.walk(pkg_root):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, REPO)
                zf.write(full, rel)
    return out_path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, "dist",
                                                  f"{PKG}.zip"))
    args = ap.parse_args()
    path = build(args.out)
    size = os.path.getsize(path)
    print(f"wrote {path} ({size} bytes)")


if __name__ == "__main__":
    main()
