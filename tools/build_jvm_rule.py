"""Compile the JVM Catalyst rule (jvm/src → jvm/classes) with plain javac
against the pyspark distribution's own jars — no Scala compiler, no build
system.  Idempotent: skips when classes are newer than sources.

Usage: python tools/build_jvm_rule.py  (or import build() from tests)
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(REPO, "jvm", "src")
OUT = os.path.join(REPO, "jvm", "classes")


def build() -> str:
    """Compile if needed; returns the classes dir.  Raises RuntimeError
    when javac is unavailable (callers skip — environmental), and
    SubprocessError carrying javac's messages when the sources do not
    compile."""
    if shutil.which("javac") is None:
        raise RuntimeError("javac not on PATH")
    sources = glob.glob(os.path.join(SRC, "**", "*.java"), recursive=True)
    classes = glob.glob(os.path.join(OUT, "**", "*.class"), recursive=True)
    if classes and sources:
        newest_src = max(os.path.getmtime(s) for s in sources)
        oldest_cls = min(os.path.getmtime(c) for c in classes)
        if oldest_cls >= newest_src:
            return OUT
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    os.makedirs(OUT, exist_ok=True)
    p = subprocess.run(
        ["javac", "-nowarn", "-encoding", "UTF-8", "-cp", os.path.join(jars, "*"),
         "-d", OUT, *sources],
        capture_output=True, text=True,
    )
    if p.returncode != 0:
        raise subprocess.SubprocessError(f"javac exited {p.returncode}:\n{p.stderr}")
    return OUT


if __name__ == "__main__":
    print(build())
    sys.exit(0)
