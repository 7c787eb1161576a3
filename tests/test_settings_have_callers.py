"""Every ``CrawlConfig`` field is read by program code: a field that no
engine, benchmark or script reads is a setting that changes nothing."""

import ast
import dataclasses
from pathlib import Path

from crawler_service_spark.config import CrawlConfig

REPO = Path(__file__).resolve().parent.parent
# program code only: a field that only tests read is still dead
SOURCES = ["crawler_service_spark", "perfbench", "bench.py", "scripts"]


def _attribute_reads() -> set[str]:
    files = []
    for name in SOURCES:
        root = REPO / name
        files += [root] if root.is_file() else [
            f for f in root.rglob("*.py") if "tests" not in f.parts]
    return {
        node.attr
        for f in files
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
    }


def test_every_config_field_is_read():
    reads = _attribute_reads()
    unread = [f.name for f in dataclasses.fields(CrawlConfig)
              if f.name not in reads]
    assert unread == [], f"CrawlConfig fields no program code reads: {unread}"
