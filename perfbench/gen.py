"""Seeded input generator for the ingest benchmark.

Writes FAST-shaped N-Triples files (and, for the one-shot workloads, a VIAF
lookup table as parquet) into an output directory, plus `planted.json`: the
counts the generator planted, computed from its own model of the job's
semantics, which the harness compares the program's output against.

The same seed gives byte-identical files.

Usage: python3 perfbench/gen.py --workload fast_all --seed 1 --out DIR
"""

import argparse
import hashlib
import json
import os
import random
import zlib
from collections import defaultdict

FAST = "http://id.worldcat.org/fast/"
PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
RDFS = "http://www.w3.org/2000/01/rdf-schema#label"
SAME = "http://schema.org/sameAs"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
CONCEPT = "http://www.w3.org/2004/02/skos/core#Concept"
IN_SCHEME = "http://www.w3.org/2004/02/skos/core#inScheme"
RELATED = "http://www.w3.org/2004/02/skos/core#related"
MODIFIED = "http://purl.org/dc/terms/modified"
SCOPE_NOTE = "http://www.w3.org/2004/02/skos/core#scopeNote"
LC_NAMES = "http://id.loc.gov/authorities/names/"
LC_SUBJECTS = "http://id.loc.gov/authorities/subjects/"
VIAF = "http://viaf.org/viaf/"

# doc type -> file, in the job's fixed 7-file layout
FILES = {
    "Chronological": "FASTChronological.nt",
    "Corporate": "FASTCorporate.nt",
    "Event": "FASTEvent.nt",
    "Form": "FASTFormGenre.nt",
    "Geographic": "FASTGeographic.nt",
    "Personal": "FASTPersonal.nt",
    "Topical": "FASTTopical.nt",
}
AGENT_TYPES = ("Corporate", "Event", "Personal")
TERM_PATH_TYPES = ("Chronological", "Event", "Form", "Geographic", "Topical")

# Per-workload shape. docs: docs per file; p_lc / p_viaf: chance a doc links
# to LC / VIAF (term files, agent files); p_ext: chance a linked URI carries
# an external rdfs:label; viaf_factor: VIAF rows per agent doc; p_match:
# chance an agent's link points at a VIAF row; alt_tail: Pareto shape of the
# altLabel count; agents_all_linked: every agent doc gets at least one link;
# extra: range of the count of triples a doc carries that the job parses
# and groups but does not keep (scheme, modification date, related
# headings); p_note: chance of a long scope note, text the parser scans and
# the projection drops.
#
# Every value is an assumption: none is taken from published FAST
# statistics, and no FAST release was measured to set them. Only the
# relations the workloads exist for are intended (Personal and Topical the
# largest files; most docs linked; a heavy altLabel tail; in viaf_heavy,
# agents dominate and the VIAF table is several times the agent count).
# perfbench/README.md lists them and what each one moves.
WORKLOADS = {
    "fast_all": dict(
        docs={"Personal": 5500, "Topical": 4500, "Geographic": 1750,
              "Corporate": 1500, "Event": 600, "Form": 400,
              "Chronological": 250},
        p_lc=(0.6, 0.7), p_viaf=(0.5, 0.8), p_ext=0.4,
        viaf_factor=0.25, p_match=0.3, alt_tail=1.3, agents_all_linked=False,
        extra=(5, 12), p_note=0.6),
    "viaf_heavy": dict(
        docs={"Personal": 9000, "Corporate": 4000, "Event": 2000,
              "Topical": 120, "Geographic": 80, "Form": 40,
              "Chronological": 40},
        p_lc=(0.6, 0.7), p_viaf=(0.5, 0.85), p_ext=0.2,
        viaf_factor=8.0, p_match=0.9, alt_tail=3.0, agents_all_linked=True,
        extra=(0, 1), p_note=0.0),
}
UPSERT = dict(base_docs=8000, batches=3, batch_docs=100,
              p_update=0.6, p_repeat=0.15)

SYLLABLES = ["ka", "lo", "mir", "an", "de", "ro", "su", "vel", "tor", "bri",
             "en", "gar", "li", "mon", "ne", "pa", "qui", "sta", "ul", "wen",
             "yor", "zal", "ce", "dor", "fi", "ha", "jun", "ko", "ma", "nor"]


class Names:
    """Label text from a seeded stream of pseudo-words."""

    def __init__(self, rng):
        self.rng = rng

    def word(self):
        n = self.rng.randint(2, 4)
        return "".join(self.rng.choice(SYLLABLES) for _ in range(n)).capitalize()

    def years(self):
        a = self.rng.randint(1500, 1990)
        return f"{a}-{a + self.rng.randint(20, 90)}"

    def label(self, doc_type):
        w = self.word
        if doc_type == "Personal":
            return f"{w()}, {w()}, {self.years()}"
        if doc_type == "Corporate":
            return f"{w()} {w()} {self.rng.choice(['Company', 'Society', 'University'])}"
        if doc_type == "Event":
            return f"{w()} Conference ({self.rng.randint(1900, 2020)} : {w()})"
        if doc_type == "Chronological":
            return self.years()
        if doc_type == "Form":
            return f"{w()} {self.rng.choice(['fiction', 'poetry', 'maps'])}"
        if doc_type == "Geographic":
            return f"{w()} ({w()})"
        return f"{w()} {w().lower()}"


def crc_sum(texts):
    """Sum of the CRC-32 of each text's UTF-8 bytes (Spark's `crc32`)."""
    return sum(zlib.crc32(t.encode("utf-8")) for t in texts)


def triple(s, p, o):
    return f"<{s}> <{p}> {o} ."


def lit(v):
    return f'"{v}"'


def uri(u):
    return f"<{u}>"


class Corpus:
    """NT lines per file plus the facts the expected counts are derived from."""

    def __init__(self, rng):
        self.rng = rng
        self.names = Names(rng)
        self.lines = defaultdict(list)
        self.term_types = defaultdict(set)   # id -> file types on the term path
        self.term_viaf = set()               # ids with a VIAF link on the term path
        self.uris = defaultdict(set)         # id -> sameAs URIs
        self.pref = {}                       # id -> prefLabel (or the rdfs:label filling it)
        self.alts = defaultdict(set)         # id -> altLabels
        self.ext_labels = defaultdict(set)   # URI -> its external rdfs:labels
        self.other_ids = []                  # (agent id, otherId) per agent link line

    def alt_count(self, tail):
        return min(int(self.rng.paretovariate(tail)) - 1, 40)

    def doc(self, doc_type, fid, tail, p_lc, p_viaf, p_ext, viaf_ref, lc_ref,
            all_linked=False, extra=(0, 0), p_note=0.0):
        """Lines of one FAST doc in its type's file."""
        out = self.lines[FILES[doc_type]]
        s = f"{FAST}{fid}"
        out.append(triple(s, RDF_TYPE, uri(CONCEPT)))
        for i in range(self.rng.randint(*extra)):
            if i == 0:
                out.append(triple(s, IN_SCHEME, uri(f"{FAST}ontology/1.0/#fast")))
            elif i == 1:
                y, m, d = (self.rng.randint(2010, 2024), self.rng.randint(1, 12),
                           self.rng.randint(1, 28))
                out.append(triple(s, MODIFIED, lit(f"{y}-{m:02d}-{d:02d}")))
            else:
                out.append(triple(s, RELATED, uri(f"{FAST}{self.rng.randrange(1, 10**8)}")))
        if self.rng.random() < p_note:
            words = " ".join(self.names.word().lower() for _ in range(self.rng.randint(20, 45)))
            out.append(triple(s, SCOPE_NOTE, lit(f"Use for works about {words}.")))
        pred = RDFS if self.rng.random() < 0.01 else PREF  # no prefLabel: the rdfs:label fills it
        self.pref[fid] = self.names.label(doc_type)
        out.append(triple(s, pred, lit(self.pref[fid])))
        for _ in range(self.alt_count(tail)):
            alt = self.names.label(doc_type)
            out.append(triple(s, ALT, lit(alt)))
            self.alts[fid].add(alt)
        links = []
        if self.rng.random() < p_lc:
            links.append(LC_NAMES + lc_ref() if doc_type in AGENT_TYPES
                         else LC_SUBJECTS + f"sh{self.rng.randrange(10**8):08d}")
        if self.rng.random() < p_viaf:
            links.append(VIAF + viaf_ref())
        if doc_type in AGENT_TYPES and not links and all_linked:
            links.append(VIAF + viaf_ref())
        for u in links:
            out.append(triple(s, SAME, uri(u)))
            self.link(doc_type, fid, u)
            if self.rng.random() < p_ext:
                src = "VIAF" if u.startswith(VIAF) else "LC"
                for _ in range(self.rng.randint(1, 2)):
                    ext = f"{self.names.label(doc_type)} ({src})"
                    out.append(triple(u, RDFS, lit(ext)))
                    self.ext_labels[u].add(ext)
        if doc_type in TERM_PATH_TYPES:
            self.term_types[fid].add(doc_type)

    def link(self, doc_type, fid, u):
        self.uris[fid].add(u)
        if doc_type in TERM_PATH_TYPES:
            if u.startswith(VIAF):
                self.term_viaf.add(fid)
        if doc_type in AGENT_TYPES:
            self.other_ids.append((fid, u.rsplit("/", 1)[1]))

    def extra_alt(self, doc_type, fid):
        """A cross-file duplicate: one more altLabel for `fid` in another file."""
        alt = self.names.label(doc_type)
        self.lines[FILES[doc_type]].append(triple(f"{FAST}{fid}", ALT, lit(alt)))
        self.alts[fid].add(alt)
        if doc_type in TERM_PATH_TYPES:
            self.term_types[fid].add(doc_type)

    def noise(self, name, share):
        """Malformed, /fast/NaN and non-numeric-id lines at random positions."""
        lines = self.lines[name]
        for i in range(max(1, int(len(lines) * share))):
            pos = self.rng.randrange(len(lines) + 1)
            kind = i % 3
            if kind == 0:
                bad = f"junk line {self.rng.randrange(10**6)}"
            elif kind == 1:
                bad = triple(f"{FAST}NaN", PREF, lit("Bad"))
            else:
                bad = triple(f"{FAST}x{self.rng.randrange(10**6)}", PREF, lit("No id"))
            lines.insert(pos, bad)

    def same_as(self, fid):
        """The doc's sameAsLc and sameAsViaf elements: each URI and its
        trailing path segment."""
        return {x for u in self.uris[fid] for x in (u, u.rsplit("/", 1)[1])}

    def expected_docs(self):
        """Counts and content sums of the `fast` table."""
        by_type = defaultdict(int)
        kept = []
        for fid, types in self.term_types.items():
            t = max(types)
            if t == "Event" and fid in self.term_viaf:
                continue  # consumed as an agent
            by_type[t] += 1
            kept.append(fid)
        enriched = 0
        alt_labels = alt_crc = same_as_crc = 0
        for fid in kept:
            ext = set().union(*(self.ext_labels[u] for u in self.uris[fid]))
            enriched += bool(ext)
            alts = self.alts[fid] | ext
            alt_labels += len(alts)
            alt_crc += crc_sum(alts)
            same_as_crc += crc_sum(self.same_as(fid))
        return {
            "docs_by_type": dict(sorted(by_type.items())),
            "enriched_docs": enriched,
            "linked_docs": sum(1 for fid in kept if self.uris[fid]),
            "pref_crc_sum": crc_sum(self.pref[fid] for fid in kept),
            "alt_labels": alt_labels, "alt_crc_sum": alt_crc,
            "same_as_crc_sum": same_as_crc,
        }

    def write_nt(self, out_dir, names):
        counts = {}
        for name in names:
            body = "\n".join(self.lines[name]) + "\n"
            with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
                f.write(body)
            counts[name] = len(self.lines[name])
        return counts


def gen_job(workload, seed, out_dir):
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    c = Corpus(rng)
    total_docs = sum(spec["docs"].values())
    agent_docs = sum(spec["docs"][t] for t in AGENT_TYPES)

    # VIAF rows: numeric viaf ids; LC ids for most; a share whose lcId is
    # another row's viaf value, so one otherId hits both keys
    n_viaf = int(agent_docs * spec["viaf_factor"])
    viaf_vals = rng.sample(range(10**7, 10**8), n_viaf)
    viaf_rows = []
    for i, v in enumerate(viaf_vals):
        r = rng.random()
        if r < 0.05 and i > 0:
            lc = str(viaf_vals[rng.randrange(i)])
        elif r < 0.85:
            lc = f"n{rng.randrange(10**8):08d}"
        else:
            lc = None
        fast = (sorted(rng.sample(range(1_900_000_000, 1_900_100_000), rng.randint(1, 3)))
                if rng.random() < 0.5 else None)
        viaf_rows.append((f"v{i:07d}", str(v), lc, fast))
    lc_keys = [r[2] for r in viaf_rows if r[2] is not None]

    def viaf_ref():
        if viaf_rows and rng.random() < spec["p_match"]:
            return viaf_rows[rng.randrange(len(viaf_rows))][1]
        return str(rng.randrange(10**8, 10**9))

    def lc_ref():
        if lc_keys and rng.random() < spec["p_match"]:
            return lc_keys[rng.randrange(len(lc_keys))]
        return f"n{rng.randrange(10**8, 10**9)}"

    ids = rng.sample(range(1, 10**8), total_docs)
    pos = 0
    by_type_ids = {}
    for t in sorted(spec["docs"]):
        n = spec["docs"][t]
        agent = t in AGENT_TYPES
        tids = sorted(ids[pos:pos + n])
        pos += n
        by_type_ids[t] = tids
        for fid in tids:
            c.doc(t, fid, spec["alt_tail"],
                  spec["p_lc"][agent], spec["p_viaf"][agent], spec["p_ext"],
                  viaf_ref, lc_ref, spec["agents_all_linked"], spec["extra"], spec["p_note"])
    # cross-file duplicate ids: term docs seen in another term file, Event
    # docs also in Topical, Personal docs also in Corporate
    for t, tids in by_type_ids.items():
        for fid in tids:
            if rng.random() >= 0.03:
                continue
            if t in ("Chronological", "Form", "Geographic", "Topical"):
                c.extra_alt(rng.choice(["Chronological", "Form", "Geographic", "Topical"]), fid)
            elif t == "Event":
                c.extra_alt("Topical", fid)
            elif t == "Personal":
                c.extra_alt("Corporate", fid)
    # external labels on URIs no doc links to
    for _ in range(total_docs // 50):
        c.lines[FILES["Topical"]].append(
            triple(f"{VIAF}{rng.randrange(10**9, 2 * 10**9)}", RDFS, lit("Unlinked label (VIAF)")))
    for name in FILES.values():
        c.noise(name, 0.003)

    file_lines = c.write_nt(out_dir, sorted(FILES.values()))
    write_viaf(os.path.join(out_dir, "viaf.parquet"), viaf_rows)

    key_owner = {}
    for vid, v, lc, _ in viaf_rows:
        for k in (v, lc):
            if k is not None and (k not in key_owner or vid < key_owner[k]):
                key_owner[k] = vid
    add = defaultdict(set)
    matched = 0
    for fid, oid in c.other_ids:
        if oid in key_owner:
            matched += 1
            add[key_owner[oid]].add(fid)
    return dict(c.expected_docs(), **{
        "workload": workload, "seed": seed,
        "lines": sum(file_lines.values()), "file_lines": file_lines,
        "viaf_rows": len(viaf_rows), "viaf_updated": len(add),
        "viaf_appended": sum(len(s) for s in add.values()),
        "viaf_appended_id_sum": sum(sum(s) for s in add.values()),
        "other_ids": len(c.other_ids), "other_ids_matched": matched,
    })


def gen_upsert(seed, out_dir):
    spec = UPSERT
    rng = random.Random(f"upsert_batches:{seed}")
    c = Corpus(rng)
    never = lambda: str(rng.randrange(10**8, 10**9))  # noqa: E731
    versions = defaultdict(list)  # id -> (prefLabel, altLabels, sameAs elements), in arrival order

    def doc(fid, p_lc, p_viaf):
        c.doc("Topical", fid, 1.3, p_lc, p_viaf, 0.0, never, never)
        versions[fid].append((c.pref.pop(fid), c.alts.pop(fid, set()), c.same_as(fid)))
        c.uris.pop(fid, None)

    base_ids = sorted(rng.sample(range(1, 10**8), spec["base_docs"]))
    for fid in base_ids:
        doc(fid, 0.6, 0.5)
    os.makedirs(os.path.join(out_dir, "base"))
    base_lines = c.write_nt(os.path.join(out_dir, "base"), [FILES["Topical"]])

    seen = set(base_ids)
    added = []
    batch_lines = {}
    os.makedirs(os.path.join(out_dir, "batches"))
    for b in range(spec["batches"]):
        c.lines.clear()
        picked = set()
        while len(picked) < spec["batch_docs"]:
            r = rng.random()
            if r < spec["p_update"]:
                fid = base_ids[rng.randrange(len(base_ids))]
            elif r < spec["p_update"] + spec["p_repeat"] and added:
                fid = added[rng.randrange(len(added))]
            else:
                fid = rng.randrange(10**8, 2 * 10**8)
            picked.add(fid)
        for fid in sorted(picked):
            doc(fid, 0.3, 0.3)
            if fid not in seen:
                seen.add(fid)
                added.append(fid)
        name = f"batch-{b:03d}.nt"
        c.lines[name] = c.lines.pop(FILES["Topical"])
        batch_lines.update(c.write_nt(os.path.join(out_dir, "batches"), [name]))

    # The merged doc unions every version's arrays; its prefLabel is the
    # richest version's. Richness counts characters of prefLabel, type and
    # every array element, `normalized` too, which the generator does not
    # model: a winner is planted only where its richness without
    # `normalized` beats every other version's upper bound (each label's
    # normalized form taken as at most its length + 4).
    alts = lambda fid: set().union(*(v[1] for v in versions[fid]))  # noqa: E731
    same_as = lambda fid: set().union(*(v[2] for v in versions[fid]))  # noqa: E731
    decided = {}
    newer = 0
    for fid, vs in versions.items():
        if len(vs) < 2:
            continue
        low = [len(p) + len("Topical") + sum(map(len, a)) + sum(map(len, s)) for p, a, s in vs]
        high = [lo + sum(len(t) + 4 for t in a | {p}) for lo, (p, a, _) in zip(low, vs)]
        w = max(range(len(vs)), key=low.__getitem__)
        if all(low[w] > high[i] for i in range(len(vs)) if i != w):
            decided[fid] = vs[w][0]
            newer += w > 0
    return {
        "workload": "upsert_batches", "seed": seed,
        "lines": sum(base_lines.values()) + sum(batch_lines.values()),
        "base_docs": len(base_ids), "batches": spec["batches"],
        "batch_lines": batch_lines, "merged_docs": len(seen),
        "merged_alt_labels": sum(len(alts(fid)) for fid in seen),
        "merged_alt_crc_sum": sum(crc_sum(alts(fid)) for fid in seen),
        "merged_same_as_crc_sum": sum(crc_sum(same_as(fid)) for fid in seen),
        "multi_version_ids": sum(1 for vs in versions.values() if len(vs) > 1),
        "pref_decided_ids": sorted(decided),
        "pref_decided_crc_sum": crc_sum(decided.values()),
        "pref_decided_newer": newer,
    }


def write_viaf(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "_id": pa.array([r[0] for r in rows], pa.string()),
        "viaf": pa.array([r[1] for r in rows], pa.string()),
        "lcId": pa.array([r[2] for r in rows], pa.string()),
        "fast": pa.array([r[3] for r in rows], pa.list_(pa.int32())),
    })
    pq.write_table(table, path, compression="snappy")


def generate(workload, seed, out_dir):
    """Write the workload's inputs under `out_dir` (created) and return the
    planted counts, also written to `out_dir/planted.json`."""
    os.makedirs(out_dir)
    if workload == "upsert_batches":
        planted = gen_upsert(seed, out_dir)
    else:
        planted = gen_job(workload, seed, out_dir)
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f, indent=1, sort_keys=True)
    return planted


def digest_dir(path):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["upsert_batches"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
