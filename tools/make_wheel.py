"""Offline PEP-427 wheel builder.

``python -m build`` is unavailable in this sandbox (no ``build`` /
``wheel`` modules, and pip cannot reach an index — DNS resolution
fails, verified r7), but a wheel is just a zip with dist-info
metadata, so this builds
``dist/selfhealingdatapipeline_gcp_spark-<ver>-py3-none-any.whl``
from the packages declared in pyproject.toml using only the stdlib.
The result installs with plain ``pip install dist/*.whl`` (pip
consumes wheels without any build backend) and carries the console
scripts via entry_points.txt.

Usage: python tools/make_wheel.py  (from anywhere; writes ./dist in
the repo root)
"""

from __future__ import annotations

import base64
import csv
import hashlib
import io
import os
import re
import sys
import tomllib
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _record_hash(data: bytes) -> str:
    digest = hashlib.sha256(data).digest()
    return "sha256=" + base64.urlsafe_b64encode(digest).rstrip(b"=").decode()


def build_wheel(out_dir: str | None = None) -> str:
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        meta = tomllib.load(fh)
    proj = meta["project"]
    dist_name = re.sub(r"[-.]+", "_", proj["name"])
    version = proj["version"]
    dist_info = f"{dist_name}-{version}.dist-info"
    wheel_name = f"{dist_name}-{version}-py3-none-any.whl"
    out_dir = out_dir or os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    wheel_path = os.path.join(out_dir, wheel_name)

    # ---- collect package payload ------------------------------------
    files: list[tuple[str, bytes]] = []  # (arcname, data)
    seen: set[str] = set()  # subpackages are inside their parent walk
    for pkg in meta["tool"]["setuptools"]["packages"]:
        pkg_dir = os.path.join(REPO, pkg.replace(".", os.sep))
        for root, dirs, names in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in sorted(names):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                arc = os.path.relpath(path, REPO).replace(os.sep, "/")
                if arc in seen:
                    continue
                seen.add(arc)
                with open(path, "rb") as fh:
                    files.append((arc, fh.read()))
    # tools/ ships as a package but may lack __init__.py on disk
    if not any(arc == "tools/__init__.py" for arc, _ in files):
        files.append(("tools/__init__.py", b""))

    # ---- dist-info ---------------------------------------------------
    metadata = io.StringIO()
    metadata.write("Metadata-Version: 2.1\n")
    metadata.write(f"Name: {proj['name']}\n")
    metadata.write(f"Version: {version}\n")
    metadata.write(f"Summary: {proj['description']}\n")
    metadata.write(f"License: {proj['license']['text']}\n")
    metadata.write(f"Requires-Python: {proj['requires-python']}\n")
    for dep in proj["dependencies"]:
        metadata.write(f"Requires-Dist: {dep}\n")
    for extra, deps in proj.get("optional-dependencies", {}).items():
        metadata.write(f"Provides-Extra: {extra}\n")
        for dep in deps:
            metadata.write(f'Requires-Dist: {dep} ; extra == "{extra}"\n')
    readme = os.path.join(REPO, "README.md")
    if os.path.exists(readme):
        metadata.write("Description-Content-Type: text/markdown\n\n")
        with open(readme, encoding="utf-8") as fh:
            metadata.write(fh.read())
    files.append((f"{dist_info}/METADATA",
                  metadata.getvalue().encode()))

    files.append((f"{dist_info}/WHEEL",
                  b"Wheel-Version: 1.0\n"
                  b"Generator: tools/make_wheel.py (stdlib)\n"
                  b"Root-Is-Purelib: true\n"
                  b"Tag: py3-none-any\n"))

    eps = proj.get("scripts", {})
    if eps:
        ep = io.StringIO()
        ep.write("[console_scripts]\n")
        for name, target in eps.items():
            ep.write(f"{name} = {target}\n")
        files.append((f"{dist_info}/entry_points.txt",
                      ep.getvalue().encode()))

    top = sorted({arc.split("/")[0].removesuffix(".py")
                  for arc, _ in files if not arc.startswith(dist_info)})
    files.append((f"{dist_info}/top_level.txt",
                  ("\n".join(top) + "\n").encode()))

    # ---- RECORD + zip ------------------------------------------------
    record = io.StringIO()
    writer = csv.writer(record, lineterminator="\n")
    for arc, data in files:
        writer.writerow([arc, _record_hash(data), len(data)])
    writer.writerow([f"{dist_info}/RECORD", "", ""])
    files.append((f"{dist_info}/RECORD", record.getvalue().encode()))

    with zipfile.ZipFile(wheel_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for arc, data in files:
            # fixed timestamp: byte-reproducible wheels
            info = zipfile.ZipInfo(arc, date_time=(2020, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    return wheel_path


if __name__ == "__main__":
    path = build_wheel(sys.argv[1] if len(sys.argv) > 1 else None)
    print(path)
