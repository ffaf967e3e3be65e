"""Zip the html_table_spark package for ``spark-submit --py-files``.

The zip holds the package's Python modules and ``_tree.c``, the C source
the package compiles on its first parse (``libxml2.build_tree_module``).
Usage: python3 scripts/pack_py_files.py <zip path>
"""

from __future__ import annotations

import os
import sys
import zipfile

SHIPPED = (".py", ".c")


def pack(zip_path: str, repo: str) -> None:
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(repo, "html_table_spark")):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(SHIPPED):
                    path = os.path.join(root, f)
                    zf.write(path, os.path.relpath(path, repo))


if __name__ == "__main__":
    pack(sys.argv[1], os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(sys.argv[1])
