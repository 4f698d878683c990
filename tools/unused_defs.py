#!/usr/bin/env python3
"""List every `def` in src/main that nothing references.

A def counts as used when its name appears as a word anywhere in src/
or perfbench/src beyond its own definition lines. `override def`s and
the Spark callbacks below (invoked by the framework, never by name) are
skipped. Prints `path:line: name` per unused def and exits 1 if there is
any.

    python3 tools/unused_defs.py [repo-root]
"""
import pathlib
import re
import sys

CALLBACKS = {
    "createAggregationBuffer", "deserialize", "nullSafeEval", "onFailure",
    "onSuccess", "prettyName", "removeEldestEntry",
    "withNewInputAggBufferOffset", "withNewMutableAggBufferOffset",
}
DEF = re.compile(r"^(?P<pre>.*?)\bdef\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")


def main() -> int:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    files = sorted(p for d in ("src", "perfbench/src")
                   for p in (root / d).rglob("*.scala"))
    texts = {p: p.read_text(encoding="utf-8") for p in files}
    words: dict = {}
    for text in texts.values():
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
            words[w] = words.get(w, 0) + 1
    defs = []  # (path, line number, name, is the def line an override)
    for p, text in texts.items():
        for i, line in enumerate(text.splitlines(), 1):
            m = DEF.match(line)
            if m:
                defs.append((p, i, m.group("name"),
                             "override" in m.group("pre")))
    sites: dict = {}
    for _, _, name, _ in defs:
        sites[name] = sites.get(name, 0) + 1
    main_dir = root / "src" / "main"
    unused = [(p, i, name) for p, i, name, over in defs
              if not over and name not in CALLBACKS
              and main_dir in p.parents and words[name] <= sites[name]]
    for p, i, name in unused:
        print(f"{p.relative_to(root)}:{i}: {name}")
    return 1 if unused else 0


if __name__ == "__main__":
    sys.exit(main())
