"""Re-attach epoch-free textual notes to BENCH_SCALE_400x.json rows after a
subset refresh.

bench_scale.py subset merges REPLACE each refreshed row wholesale, so the
hand-attached structural notes (build_note on build-inclusive serving rows,
adjudication_note on q116) vanish on refresh. Those notes are epoch-free
text — they describe what the row measures, not a number — so restoring the
git-HEAD text verbatim is correct. cap_note/one_shot_note are handled by
tools/annotate_scale_400x.py; amortized rows are rebuilt in-run by
bench_scale._attach_amortized. serve_* fields are NOT restored here: a
refresh tranche must leave out every row that carries serve_* fields (the
serving rows measured by side harnesses into BENCH_*_SERVING.json).
Refreshing only such a row's build-inclusive number would put two epochs
inside one row.

Usage: python tools/restore_400x_notes.py <snapshot.json>
where snapshot.json is the pre-refresh artifact (e.g. `git show
HEAD:BENCH_SCALE_400x.json > /tmp/snap.json`).
"""

from __future__ import annotations

import json
import os
import sys

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_SCALE_400x.json")
RESTORE_FIELDS = ("build_note", "adjudication_note")


def main() -> None:
    with open(sys.argv[1]) as f:
        snap = json.load(f)
    with open(PATH) as f:
        cur = json.load(f)
    restored = []
    for name, row in cur["queries"].items():
        old = snap["queries"].get(name, {})
        for field in RESTORE_FIELDS:
            if field in old and field not in row:
                row[field] = old[field]
                restored.append(f"{name}.{field}")
    with open(PATH, "w") as f:
        json.dump(cur, f, indent=1, sort_keys=True)
    print(f"restored {len(restored)}: {restored}")


if __name__ == "__main__":
    main()
