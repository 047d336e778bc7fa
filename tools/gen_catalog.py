#!/usr/bin/env python
"""Generate CATALOG.md: every registered query with its tags and
first docstring sentence — the browsable index of the engine's
capabilities (COVERAGE.md maps rows; this maps QUERIES).

    python tools/gen_catalog.py > CATALOG.md
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str) -> str:
    import re

    text = " ".join(doc.split())
    # sentence stop = ". " not preceded by a known abbreviation
    # (citations like "et al. 2023" must not end the sentence)
    for m in re.finditer(r"\. ", text):
        before = text[: m.start()]
        if before.endswith((" al", " et", " e.g", " i.e", " vs", " cf")):
            continue
        return text[: m.start() + 1]
    return text if text.endswith(".") else text + "."


def main() -> None:
    from gostream_spark.registry import all_queries

    qs = all_queries()
    by_module: dict[str, list] = defaultdict(list)
    for q in qs.values():
        by_module[q.fn.__module__.rsplit(".", 1)[-1]].append(q)

    print("# CATALOG — every registered query")
    print()
    print("Generated by `python tools/gen_catalog.py`. Every query is")
    print(f"checked exactly against its DuckDB oracle. {len(qs)} queries.")
    for mod in sorted(by_module):
        print(f"\n## {mod}\n")
        for q in sorted(by_module[mod], key=lambda q: q.name):
            tags = ",".join(q.tags)
            print(f"- **`{q.name}`** ({tags}) — {first_sentence(q.doc)}")


if __name__ == "__main__":
    main()
