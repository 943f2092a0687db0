"""Generate QUERIES.md: one line per registered query (module, first
docstring sentence) — the user-facing catalog of the engine's query
surface. Regenerate after adding queries:

    python scripts/gen_query_index.py > QUERIES.md
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from map_reduce_go_spark.registry import all_queries  # noqa: E402


def first_sentence(doc: str) -> str:
    doc = " ".join((doc or "").split())
    for stop in (". ", ".\n"):
        if stop in doc:
            return doc.split(stop)[0] + "."
    return doc[:220] or "(no doc)"


def main() -> None:
    qs = all_queries()
    by_module: dict[str, list] = {}
    for name, spec in qs.items():
        mod = spec.fn.__module__.replace("map_reduce_go_spark.", "")
        by_module.setdefault(mod, []).append((name, spec))
    print("# QUERIES — registered query catalog (generated)")
    print()
    print(f"{len(qs)} queries, every one driver-checkable; regenerate with")
    print("`python scripts/gen_query_index.py > QUERIES.md`.")
    for mod in sorted(by_module):
        print(f"\n## {mod}\n")
        for name, spec in sorted(by_module[mod]):
            print(f"- **{name}** — {first_sentence(spec.fn.__doc__)}")


if __name__ == "__main__":
    main()
