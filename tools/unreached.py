#!/usr/bin/env python3
"""List the public defs of top-level Scala objects that nothing reaches.

A def `name` of a top-level `object Obj` in src/main counts as reached when,
with comments stripped, one of these appears in src/main or e2ebench/:
  - the qualified form `Obj.name`, or an import naming it;
  - the bare `name`, outside the def's own definition, in Obj's own file
    or in a file that imports `Obj._`.
A bare name elsewhere does not count: it may be another object's member
of the same name (the query SimilarityQueries.sceneCuts would hide the
unreached VideoCodec.sceneCuts from a plain word match). Tests do not
count as callers. Reflective use is invisible to the scan, so confirm a
deletion by compiling without the name.

Usage: tools/unreached.py [--root DIR] [--all]
Prints each unreached def that ALLOWLIST does not name and exits 1 if
there is any. --all also prints the allowlisted ones.
"""
import argparse
import os
import re
import sys

# Public defs kept although no src/main or e2ebench code calls them, each
# with the README row or the reason it stays.
ALLOWLIST = {
    # driver contract and library entry points
    "SparkEntry.entry": "driver contract (README layout: entry / queries / oracleSql)",
    "SparkEntry.queries": "driver contract (README layout: entry / queries / oracleSql)",
    "SparkEntry.oracleSql": "driver contract (README layout: entry / queries / oracleSql)",
    "GraftFunctions.register": "registers the graft_* SQL surface on a user's session",
    "GraftSession.local": "standalone session for tests and ad-hoc runs",
    "Registry.byName": "query lookup by name for tests and ad-hoc runs",
    # README reference-feature map and feature prose
    "Streaming.fileEvents": "README A1/A2 topic scans",
    "Streaming.kafkaEvents": "README A1/A2 topic scans (drop-in Kafka source)",
    "Streaming.keyedSink": "README A5/A6 keyed sink",
    "AvroWire.toWire": "README A5/A6 wire format (Avro round-trip)",
    "AvroWire.fromWire": "README A5/A6 wire format (Avro round-trip)",
    "Streaming.dedupWithinWatermark": "README A8 idempotency filter, streaming form",
    "ChunkAlgebra.wordChunks": "README A9 chunk flatMap (ChunkAlgebra chunkers)",
    "ChunkAlgebra.windowChunks": "README A9 chunk flatMap (ChunkAlgebra chunkers)",
    "Streaming.windowedJoin": "README A12 windowed join",
    "Streaming.sessionAggregates": "README A13 session windows",
    "Streaming.sideEffect": "README A14 side-effects",
    "Facts.evaluate": "README B10 fact evaluation, row form",
    "Facts.evaluateMax": "README B10 fact evaluation, row + columnar forms",
    "Streaming.funnelUpdates": "README streaming funnel (q90 greedy fold as keyed state)",
    "Streaming.cusumUpdates": "README streaming CUSUM monitor (q113 companion)",
    "Streaming.crawlCurationLogSink": "README: the sixth crawl sink on one landing zone",
    "Streaming.incrementalParagraphDedupSink": "README incremental paragraph dedup",
    "Streaming.incrementalAnnSink": "README incremental ANN index sink",
    "Streaming.crawlLinkGraphSink": "README crawl link-graph sink",
    "Streaming.compactLinkGraph": "README: offline compactor of the link-graph sink",
    "Streaming.compactPostingsIndex": "README: offline compactor of the postings sink",
    "CurationArtifacts.lmRefModelDir": "README: frozen reference-LM model a streaming gate reads",
    # offline maintenance verbs: an operator runs them with the sink stopped
    "Streaming.compactFrontierIndex": "offline compactor (StreamingSpec maintenance drill)",
    "Streaming.compactCurationDigests": "offline compactor (StreamingSpec maintenance drill)",
    "Streaming.compactAnnIndex": "offline compactor (StreamingSpec maintenance drill)",
    "Streaming.compactMediaFeatures": "offline compactor (StreamingSpec maintenance drill)",
    # reached only by tests; each deletes a capability the README or the
    # BASELINE north star describes, so a re-anchor decides (CHANGES.md FOUND)
    "Streaming.incrementalImageDedupSink": "streaming perceptual image dedup; tests only",
    "Streaming.incrementalMediaFeaturesSink": "streaming media decode-once; tests only",
    "Streaming.linkGraphEdges": "serving read of the link-graph sink; tests only",
    "Warc.scanSplits": "offset-splittable WARC read for huge plain archives; tests only",
    "Jsonl.scanStream": "streaming JSONL shard source; tests only",
    "Multimodal.sampleFrames": "1-to-N frame sampling (README Multimodal row); tests only",
    "VideoCodec.sampleFrames": "GRAV stride sampling (README VideoCodec prose); tests only",
    "VideoCodec.sceneCuts": "per-video scene cuts; q127 folds the frame artifact instead; tests only",
    "Ner.gazetteer": "flat gazetteer view of q91's vote table; tests only",
    "Similarity.quantizedCosine": "column form of the quantized cosine; tests only",
    "StandardEnrichers.extended": "extended enricher set (NLP stand-ins); tests only",
}

# Entry points and compiler-invoked members: reached without a caller.
IMPLICIT = {"main", "apply", "unapply", "unapplySeq"}

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
CHAR = re.compile(r"'(?:\\(?:u[0-9A-Fa-f]{4}|[0-7]{1,3}|.)|[^'\\\n])'")
DECL = re.compile(r"[ \t]*(?:@|(?:private|protected|override|implicit|lazy|final|"
                  r"sealed|abstract|case|def|val|var|class|object|trait|type)\b)")


def strip(src):
    """Return (code, skel): comments blanked in both; string and char
    literals also blanked in skel. Offsets and newlines are preserved."""
    code, skel = list(src), list(src)
    i, n = 0, len(src)

    def blank(a, b, both):
        for k in range(a, b):
            if src[k] != "\n":
                skel[k] = " "
                if both:
                    code[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(i, j, True)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j, True)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            blank(i + 3, j - 3, False)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            blank(i + 1, j, False)
            i = j + 1
        elif c == "'" and CHAR.match(src, i):
            j = CHAR.match(src, i).end()
            blank(i + 1, j - 1, False)
            i = j
        else:
            i += 1
    return "".join(code), "".join(skel)


def depths(skel):
    """Brace depth before each character of skel."""
    out, d = [], 0
    for ch in skel:
        out.append(d)
        if ch == "{":
            d += 1
        elif ch == "}":
            d -= 1
    return out


def line_of(text, pos):
    return text.count("\n", 0, pos) + 1


def public_defs(skel):
    """Yield (obj, name, line, span_start, span_end) for each public def
    declared directly in a top-level object of one file."""
    dep = depths(skel)
    for m in re.finditer(r"^(?:private\S*\s+|case\s+)?object\s+(" + IDENT + ")",
                         skel, re.M):
        if dep[m.start()] != 0:
            continue
        obj = m.group(1)
        open_ = skel.find("{", m.end())
        if open_ < 0 or dep[open_] != 0 or re.search(r"\n\s*(?:object|class|trait)\b",
                                                       skel[m.end():open_]):
            continue
        close = open_ + 1
        while close < len(skel) and not (skel[close] == "}" and dep[close] == 1):
            close += 1
        # start offsets of the body's depth-1 declaration lines
        members = [a for a in (mm.start() for mm in re.finditer(r"^", skel, re.M))
                   if open_ < a < close and dep[a] == 1 and DECL.match(skel, a)]
        for k, start in enumerate(members):
            dm = re.match(r"[ \t]*((?:\w+[ \t]+)*)def\s+(" + IDENT + ")", skel[start:])
            if not dm:
                continue
            mods = dm.group(1).split()
            name = dm.group(2)
            if {"private", "protected", "override"} & {x.split("[")[0] for x in mods}:
                continue
            if name in IMPLICIT:
                continue
            end = members[k + 1] if k + 1 < len(members) else close
            yield obj, name, line_of(skel, start), start, end


def sources(root):
    for top in ("src/main", "e2ebench"):
        for d, _, files in os.walk(os.path.join(root, top)):
            for f in sorted(files):
                if f.endswith((".scala", ".py", ".java")):
                    yield os.path.join(d, f)


def load(path):
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    if path.endswith(".py"):
        code = re.sub(r"#[^\n]*", "", src)
        return code, code
    return strip(src)


class Index:
    """What one file references: qualified `A.b` pairs (imports included),
    the objects it wildcard-imports, and the offsets of bare identifiers."""

    def __init__(self, code):
        self.qualified = {a + "." + b for a, b in
                          re.findall(r"\b(" + IDENT + r")\s*\.\s*(" + IDENT + ")", code)}
        for obj, names in re.findall(r"\bimport\s+[\w.]*?\b(" + IDENT +
                                     r")\.\{([^}]*)\}", code):
            self.qualified |= {obj + "." + x for x in re.findall(IDENT, names)}
        self.wildcard = set(re.findall(r"\bimport\s+[\w.]*?\b(" + IDENT + r")\._", code))
        self.bare = {}
        for u in re.finditer(r"(?<![\w.])" + IDENT, code):
            if not re.search(r"\bdef\s+$", code[max(0, u.start() - 12):u.start()]):
                self.bare.setdefault(u.group(), []).append(u.start())


def unreached(root):
    loaded = {p: load(p) for p in sources(root)}
    index = {p: Index(code) for p, (code, _) in loaded.items()}
    main = os.path.join(root, "src/main")
    found = []
    for path, (_, skel) in loaded.items():
        if not path.startswith(main) or not path.endswith(".scala"):
            continue
        for obj, name, line, a, b in public_defs(skel):
            q = obj + "." + name
            reached = any(
                q in ix.qualified or
                (other == path and any(not a <= u < b for u in ix.bare.get(name, ()))) or
                (obj in ix.wildcard and name in ix.bare)
                for other, ix in index.items())
            if not reached:
                found.append((os.path.relpath(path, root), line, q))
    return sorted(found)


def main():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=here, help="checkout to scan (default: this repo)")
    ap.add_argument("--all", action="store_true", help="also print allowlisted defs")
    args = ap.parse_args()
    found = unreached(args.root)
    names = {q for _, _, q in found}
    bad = [f for f in found if f[2] not in ALLOWLIST]
    for path, line, q in found:
        if q not in ALLOWLIST:
            print(f"UNREACHED {path}:{line} {q}")
        elif args.all:
            print(f"allowed   {path}:{line} {q}  ({ALLOWLIST[q]})")
    for q in sorted(set(ALLOWLIST) - names):
        print(f"note: allowlisted {q} is reached or gone; drop it from ALLOWLIST")
    print(f"{len(found)} unreached public defs, {len(bad)} not allowlisted")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
