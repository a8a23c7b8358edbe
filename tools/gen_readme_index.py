#!/usr/bin/env python3
"""Generate the README operator-index table from SparkEntry.scala.

SURVEY.md is the design blueprint; users need the 226-query surface
discoverable as an API. This tool derives, for every entry in
SparkEntry.queries:
  - the gated query name (the stable API key for Verify's ONLY= use)
  - the one-line description (the comment block right above the entry)
  - the primary entry function(s) it drives (operators.X.y / streaming.X.y
    / functions.X.y / Warehouse.* / sources.*), with the `def` signature
    looked up from the source file
  - which committed history/SCALE_PROBE_*.json files carry scale evidence naming
    the query or its entry function

and rewrites the section between the OPERATOR-INDEX markers in README.md.
Run:  python3 tools/gen_readme_index.py   (idempotent; pure text transform)
"""
import json
import os
import re
import sys
from collections import OrderedDict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")
README = os.path.join(ROOT, "README.md")
SRC = os.path.join(ROOT, "src/main/scala/graft")
HISTORY = os.path.join(ROOT, "history")

START = "<!-- OPERATOR-INDEX-START (generated by tools/gen_readme_index.py; do not hand-edit) -->"
END = "<!-- OPERATOR-INDEX-END -->"

# harness plumbing, not entry points
CALL_BLOCKLIST = {
    "EventsStream.runToCompletion", "EventsStream.documentsSchema",
    "EventsStream.readStoredEventsStream",
    "OutputMode.Append", "OutputMode.Complete", "OutputMode.Update",
}


def parse_entries(text):
    """Yield (name, comment, body) for each queries-map entry."""
    m = re.search(r"def queries\b", text)
    end = re.search(r"def oracleSql\b", text)
    block = text[m.start():end.start()]
    lines = block.splitlines()
    starts = [(i, re.match(r'\s*"(q\w*)" ->', l).group(1))
              for i, l in enumerate(lines) if re.match(r'\s*"(q\w*)" ->', l)]
    entries = []
    for k, (i, name) in enumerate(starts):
        # comment block immediately above
        j = i - 1
        comment = []
        while j >= 0 and lines[j].strip().startswith("//"):
            c = lines[j].strip().lstrip("/ ").strip()
            # skip `---- X-series ----` section banners; they describe the
            # group, not the entry
            if not re.match(r"^-{2,}", c):
                comment.insert(0, c)
            j -= 1
        body_end = starts[k + 1][0] if k + 1 < len(starts) else len(lines)
        body_lines = lines[i:body_end]
        # trailing comment lines belong to the NEXT entry's header
        while body_lines and body_lines[-1].strip().startswith("//"):
            body_lines.pop()
        body = "\n".join(body_lines)
        if not comment:  # fall back to the first comment INSIDE the body
            for bl in body_lines:
                s = bl.strip()
                if s.startswith("//") and not re.match(r"^/+\s*-{2,}", s):
                    comment.append(s.lstrip("/ ").strip())
                elif comment:
                    break
        entries.append((name, " ".join(comment), body))
    return entries


def qualified_calls(body):
    calls = []
    for mod, obj, fn in re.findall(
            r"\b(operators|streaming|functions|sources)\.(\w+)\.(\w+)\s*[(\[]", body):
        q = f"{obj}.{fn}"
        if q in CALL_BLOCKLIST or q in calls:
            continue
        calls.append(q)
    for obj, fn in re.findall(r"\b(Warehouse|GraftFunctions)\.(\w+)\s*\(", body):
        q = f"{obj}.{fn}"
        if q not in calls:
            calls.append(q)
    # scalar-library helpers are plumbing; the operator call is the entry
    calls.sort(key=lambda c: c.startswith(("GraftFunctions.", "PyText")))
    return calls


def local_helpers(text):
    """SparkEntry-private helper name -> the qualified calls in its body
    (one level: entries calling e.g. `lshPairs(s, dir)` resolve through
    the shared-artifact memo helper to the operators.* function it wraps)."""
    helpers = {}
    for m in re.finditer(r"^  (?:private\s+)?(?:lazy\s+)?(?:def|val)\s+(\w+)",
                         text, re.M):
        name = m.group(1)
        if name in ("queries", "oracleSql", "artifacts", "entry", "main"):
            continue
        nxt = re.search(r"^  (?:private\s+)?(?:lazy\s+)?(?:def|val|object)\s",
                        text[m.end():], re.M)
        body = text[m.start():m.end() + (nxt.start() if nxt else 2000)]
        calls = qualified_calls(body)
        if calls:
            helpers[name] = calls
    return helpers


def entry_calls(body, helpers):
    calls = qualified_calls(body)
    if not calls:
        for h, hcalls in helpers.items():
            if re.search(r"\b" + re.escape(h) + r"\s*\(", body):
                for c in hcalls:
                    if c not in calls:
                        calls.append(c)
    return calls[:2]  # primary + one secondary keeps the row readable


def find_signature(qualified):
    """Locate `def fn(...)` for Obj.fn under src/main/scala/graft."""
    obj, fn = qualified.split(".")
    pat = re.compile(r"^\s*def " + re.escape(fn) + r"\b")
    for dirpath, _, files in os.walk(SRC):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if f"object {obj}" not in src and f"class {obj}" not in src:
                continue
            src_lines = src.splitlines()
            for li, line in enumerate(src_lines):
                if pat.match(line):
                    sig = line.strip()
                    sig = re.sub(r"\s*[={]\s*$", "", sig)
                    if len(sig) > 90:
                        sig = sig[:87] + "..."
                    rel = os.path.relpath(path, ROOT)
                    # first Scaladoc sentence above the def, as a
                    # description fallback for comment-less entries
                    doc = ""
                    j = li - 1
                    block = []
                    while j >= 0 and (src_lines[j].strip().startswith("*")
                                      or src_lines[j].strip().startswith("/**")):
                        block.insert(0, src_lines[j].strip().lstrip("/* ").strip())
                        if src_lines[j].strip().startswith("/**"):
                            break
                        j -= 1
                    if block:
                        text_doc = " ".join(b for b in block if b)
                        doc = text_doc.split(". ")[0].split(" — ")[0]
                    return sig, rel, doc
    return None, None, None


def probe_evidence():
    """query/function name -> sorted probe files mentioning it."""
    out = {}
    for f in sorted(os.listdir(HISTORY)):
        if not (f.startswith("SCALE_PROBE") and f.endswith(".json")):
            continue
        with open(os.path.join(HISTORY, f), encoding="utf-8") as fh:
            content = fh.read()
        for tok in set(re.findall(r"\bq_\w+", content)):
            out.setdefault(tok, []).append("history/" + f)
    return out


def family(name):
    parts = name.split("_")
    return "_".join(parts[:2]) if len(parts) > 1 else name


FAMILY_TITLES = [
    ("q_dim", "Reference warehouse: dimensions"),
    ("q_fato", "Reference warehouse: facts"),
    ("q_dedup", "Deduplication"),
    ("q_exact", "Deduplication"),
    ("q_line", "Deduplication"),
    ("q_dup", "Deduplication"),
    ("q_semantic", "Deduplication"),
    ("q_cosine", "Deduplication"),
    ("q_ann", "Similarity / ANN"),
    ("q_maxsim", "Similarity / ANN"),
    ("q_rrf", "Similarity / ANN"),
    ("q_knn", "Similarity / ANN"),
    ("q_stream", "Structured Streaming twins"),
    ("q_multimodal", "Multimodal decode"),
    ("q_audio", "Multimodal decode"),
    ("q_events", "Event analytics"),
]


def registry_text():
    """Reassemble the queries-map source from the per-family registries:
    SparkEntry.queries merges the entries/<Fam>Queries maps named in
    SparkEntry.families; read that list, then splice each file's
    `def queries`..`def oracleSql` region in its order so parse_entries
    sees one region."""
    with open(ENTRY, encoding="utf-8") as fh:
        se = fh.read()
    fams = re.findall(r"\w+Queries",
                      re.search(r"val families\b[^=]*=\s*Seq\(([^)]*)\)", se).group(1))
    blocks = []
    for fam in fams:
        path = os.path.join(SRC, "entries", fam + ".scala")
        with open(path, encoding="utf-8") as fh:
            t = fh.read()
        q = re.search(r"def queries\b", t)
        o = re.search(r"def oracleSql\b", t)
        blocks.append(t[q.end():o.start()])
    return "def queries\n" + "\n".join(blocks) + "\ndef oracleSql\n"


def main():
    text = registry_text()
    with open(os.path.join(SRC, "entries", "QueryShared.scala"),
              encoding="utf-8") as fh:
        shared = fh.read()
    entries = parse_entries(text)
    probes = probe_evidence()
    helpers = local_helpers(shared)
    sig_cache = {}
    rows = []
    for name, comment, body in entries:
        calls = entry_calls(body, helpers)
        sigs = []
        doc_fallback = ""
        for c in calls:
            if c not in sig_cache:
                sig_cache[c] = find_signature(c)
            sig, rel, doc = sig_cache[c]
            if doc and not doc_fallback:
                doc_fallback = doc
            sigs.append(f"`{c}` ({rel})" if rel else f"`{c}`")
        entry_cell = "; ".join(sigs) if sigs else "SparkEntry inline (pure DataFrame)"
        if not comment and doc_fallback:
            comment = doc_fallback
        ev = probes.get(name, [])
        ev_cell = ", ".join(f"[{os.path.basename(e).replace('SCALE_PROBE_', '').replace('.json', '')}]({e})"
                            for e in ev) or "sf0.01 oracle gate"
        desc = (comment[:140] + "…") if len(comment) > 140 else comment
        if not desc:
            desc = "(see SURVEY §8.3)"
        rows.append((name, desc, entry_cell, ev_cell))

    lines = [START, "", "## Operator index", "",
             f"All {len(rows)} gated queries — each is an API entry point "
             "(run one with `SPARK_GRAFT_ONLY=<name>` through `graft.Verify`), "
             "each is hash-verified against the DuckDB "
             "oracle at the driver gate, and the scale-evidence column links "
             "the committed probe artifacts that name the query at sf1 and "
             "above. Generated from `SparkEntry.queries`; regenerate with "
             "`python3 tools/gen_readme_index.py`.", "",
             "| gated query | what it computes | entry function | scale evidence |",
             "|---|---|---|---|"]
    for name, desc, entry_cell, ev_cell in rows:
        desc = desc.replace("|", "\\|")
        lines.append(f"| `{name}` | {desc} | {entry_cell} | {ev_cell} |")
    lines += ["", END]
    section = "\n".join(lines)

    with open(README, encoding="utf-8") as fh:
        readme = fh.read()
    if START in readme:
        pre = readme[:readme.index(START)]
        post = readme[readme.index(END) + len(END):]
        readme = pre + section + post
    else:
        readme = readme.rstrip() + "\n\n" + section + "\n"
    with open(README, "w", encoding="utf-8") as fh:
        fh.write(readme)
    print(f"wrote {len(rows)} rows to README.md")


if __name__ == "__main__":
    sys.exit(main())
