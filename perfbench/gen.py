"""Seeded input generator for the corpus-build benchmark.

Every input is a pure function of (workload, seed): the generator draws
from `random.Random(seed)` only, renders each table as canonical JSON
lines (whose sha256 is the input digest), and converts those lines to
the parquet tables the library reads. The same seed gives byte-identical
JSON lines; another seed gives different ones.

Sizes are fixed per workload, so two seeds differ in content, not in
volume: the channel catalog realises a fixed (videos, quota) multiset,
the document corpus draws from a fixed language mix and duplicate shares.
"""
import hashlib
import json
import os
import random

# ---- audio_ingest ---------------------------------------------------------
N_CHANNELS = 100
# skewed channel sizes (videos per channel, 5..44): most channels are
# small, a few are large
SIZE_SKEW = 2.5
QUOTAS = [(10, 0.10), (20, 0.15), (30, 0.15), (40, 0.20), (50, 0.25), (60, 0.15)]

# ---- text_corpus ----------------------------------------------------------
N_BASE = 800            # corpus documents curated in bulk
N_INCREMENTS = 1
INC_DOCS = 150          # docs per crawl increment, 2/3 already in the corpus
NEAR_CORPUS_SHARE = 0.15  # fresh novel docs replaced by near copies of corpus docs

LANG_MIX = [("en", 0.40), ("de", 0.14), ("fr", 0.14), ("es", 0.14),
            ("zh", 0.12), ("und", 0.06)]
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ein", "eine", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du"],
    "es": ["el", "la", "de", "los", "las", "un", "una", "por"],
}
SHARES = {"exact_dup": 0.08, "near_dup": 0.08, "boilerplate": 0.12,
          "hot_shingle": 0.15, "pii": 0.05, "short": 0.03}
HOT_SHINGLE = ["lorem", "ipsum", "dolor"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ra", "tu", "so", "vi", "da", "pe",
             "ri", "go", "ba", "fe", "ju", "xo"]


def java_hash(s):
    """java.lang.String.hashCode as a signed 32-bit int."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def fake_h(s):
    """FakeAudioFetcher.h: math.abs(s.hashCode.toLong)."""
    return abs(java_hash(s))


def quota_for(ck):
    subs = ck * 9973 % 250000
    for bound, q in ((10000, 10), (30000, 20), (50000, 30), (100000, 40), (200000, 50)):
        if subs < bound:
            return q
    return 60


def channel_videos(ck):
    url = f"https://yt/c/{ck}"
    hu = fake_h(url)
    return [f"v{hu:010d}_{i:03d}" for i in range(hu % 40 + 5)]


def video_status(vid):
    k = fake_h(vid)
    if k % 17 == 0:
        return "PREMIERE_VIDEO"
    if k % 19 == 0:
        return "OFFLINE_VIDEO"
    if k % 23 == 0:
        return "NO_OUTPUT_FILE"
    return "OK"


def fixed_cells(n):
    """The seed-independent (videos, quota) multiset of the catalog: sizes
    5 + 39·u^SIZE_SKEW over n evenly spaced u, quotas in their shares,
    paired in a fixed order."""
    sizes = [5 + int(39 * ((i + 0.5) / n) ** SIZE_SKEW) for i in range(n)]
    quotas = [q for q, share in QUOTAS for _ in range(round(n * share))]
    quotas = (quotas + [QUOTAS[-1][0]] * n)[:n]
    random.Random(0).shuffle(quotas)
    return list(zip(sizes, quotas))


def gen_audio(seed):
    rng = random.Random(seed)
    need = {}
    for cell in fixed_cells(N_CHANNELS):
        need[cell] = need.get(cell, 0) + 1
    chosen = set()
    rows = []
    while len(rows) < N_CHANNELS:
        ck = 211 * rng.randrange(1, 50_000_000)
        if ck in chosen:
            continue
        cell = (len(channel_videos(ck)), quota_for(ck))
        if need.get(cell, 0) > 0:
            need[cell] -= 1
            chosen.add(ck)
            rows.append({"c_custkey": ck, "c_name": f"Channel#{ck:012d}"})
    rows.sort(key=lambda r: r["c_custkey"])
    sizes = [len(channel_videos(r["c_custkey"])) for r in rows]
    statuses = [video_status(v) for r in rows for v in channel_videos(r["c_custkey"])]
    props = {
        "channels": len(rows),
        "videos": len(statuses),
        "channel_videos_min": min(sizes),
        "channel_videos_median": sorted(sizes)[len(sizes) // 2],
        "channel_videos_max": max(sizes),
        "premiere_offline_share": round(sum(s in ("PREMIERE_VIDEO", "OFFLINE_VIDEO")
                                            for s in statuses) / len(statuses), 4),
        "no_output_share": round(statuses.count("NO_OUTPUT_FILE") / len(statuses), 4),
    }
    return {"customer": rows}, props


def exact_picks(rng, n, share):
    """A seeded set of exactly round(n * share) of the indices 0..n-1."""
    return set(rng.sample(range(n), round(n * share)))


class DocMaker:
    """Draws documents in a language mix with the duplicate structures
    the curation funnel exists to remove. Every share is met exactly per
    batch of documents (`batch`), so seeds differ in content only."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = sorted({"".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
                             for _ in range(600)})
        self.cjk = sorted({chr(0x4E00 + rng.randrange(0, 0x5000)) + chr(0x4E00 + rng.randrange(0, 0x5000))
                           for _ in range(300)})
        self.boiler = [[rng.choice(self.vocab) for _ in range(32)] for _ in range(3)]

    def word(self, lang):
        r = self.rng
        if lang == "zh":
            return r.choice(self.cjk) if r.random() < 0.8 else r.choice(self.vocab)
        if lang != "und" and r.random() < 0.3:
            return r.choice(STOPWORDS[lang])
        # Zipf-like reuse of the shared content vocabulary
        return self.vocab[min(int(r.paretovariate(1.2)) - 1, len(self.vocab) - 1)
                          if r.random() < 0.5 else r.randrange(len(self.vocab))]

    def fresh(self, lang, n, boiler, hot, pii):
        r = self.rng
        toks = [self.word(lang) for _ in range(n)]
        for i in range(11, n, r.randint(9, 14)):
            toks[i] += "."
        if boiler:
            toks[:32] = list(r.choice(self.boiler))
        if hot:
            at = r.randint(32, n - 3)
            toks[at:at + 3] = HOT_SHINGLE
        if pii:
            toks.insert(r.randint(0, len(toks)), r.choice([
                f"user{r.randrange(1000)}@example.com",
                f"https://site{r.randrange(100)}.org/p/{r.randrange(10000)}",
                f"10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(256)}"]))
        return " ".join(toks)

    def near_copy(self, text):
        toks = text.split(" ")
        for _ in range(1 if len(toks) < 70 else 2):
            toks[self.rng.randrange(len(toks))] = self.rng.choice(self.vocab)
        return " ".join(toks)

    def batch(self, n, earlier):
        """n new documents as (text, lang label, kind); kind is fresh,
        exact_dup or near_dup (a copy of a document in `earlier`, which
        grows as documents are made)."""
        r = self.rng
        kinds = ["fresh"] * n
        dups = r.sample(range(1 if not earlier else 0, n),
                        round(n * SHARES["exact_dup"]) + round(n * SHARES["near_dup"]))
        for j, i in enumerate(dups):
            kinds[i] = "exact_dup" if j < round(n * SHARES["exact_dup"]) else "near_dup"
        fresh = [i for i in range(n) if kinds[i] == "fresh"]
        nf = len(fresh)
        langs = [lang for lang, share in LANG_MIX for _ in range(round(nf * share))]
        langs = (langs + ["en"] * nf)[:nf]
        r.shuffle(langs)
        short = exact_picks(r, nf, SHARES["short"])
        lengths = [30 + (60 * i) // max(1, nf - 1) for i in range(nf)]
        r.shuffle(lengths)
        long_ix = [j for j in range(nf) if j not in short and lengths[j] > 40]
        boiler = set(r.sample(long_ix, round(nf * SHARES["boilerplate"])))
        hot = set(r.sample(long_ix, round(nf * SHARES["hot_shingle"])))
        pii = exact_picks(r, nf, SHARES["pii"])
        spec = {i: j for j, i in enumerate(fresh)}
        out = []
        for i in range(n):
            if kinds[i] == "fresh":
                j = spec[i]
                length = r.randint(4, 7) if j in short else lengths[j]
                doc = (self.fresh(langs[j], length, j in boiler, j in hot, j in pii), langs[j])
            else:
                t, lang = r.choice(earlier)
                doc = (t if kinds[i] == "exact_dup" else self.near_copy(t), lang)
            earlier.append(doc)
            out.append(doc + (kinds[i],))
        return out


def doc_row(doc_id, text, lang):
    return {"doc_id": doc_id, "text": text, "lang": lang,
            "source": f"src{doc_id % 20}", "n_chars": len(text)}


def text_props(rows, kinds, boiler):
    langs = {}
    for r in rows:
        langs[r["lang"]] = langs.get(r["lang"], 0) + 1
    n = len(rows)
    return {
        "docs": n,
        "chars": sum(len(r["text"]) for r in rows),
        "lang_mix": {k: round(v / n, 4) for k, v in sorted(langs.items())},
        "exact_dup_share": round(kinds.count("exact_dup") / n, 4),
        "near_dup_share": round(kinds.count("near_dup") / n, 4),
        "boilerplate_share": round(
            sum(any(r["text"].startswith(" ".join(b)) for b in boiler) for r in rows) / n, 4),
        "hot_shingle_share": round(sum(" ".join(HOT_SHINGLE) in r["text"] for r in rows) / n, 4),
    }


def gen_text_corpus(seed):
    """The corpus (ids with id % 3 != 0) and its crawl increments. Each
    increment re-crawls 2/3 corpus documents, which the refresh front
    door must drop, and brings 1/3 novel ones (id % 3 == 0, growing
    across increments so delivery is in id order), some of them near
    copies of corpus documents. `crawl` is the corpus plus every novel
    document: the split q_corpus_refresh_e2e's oracle applies to a
    `documents` crawl."""
    rng = random.Random(seed)
    mk = DocMaker(rng)
    ids_base = (i for i in range(1_000_000) if i % 3 != 0)
    ids_novel = (i for i in range(0, 1_000_000, 3))
    earlier = []
    made = mk.batch(N_BASE, earlier)
    base = [doc_row(next(ids_base), text, lang) for text, lang, _ in made]
    props = text_props(base, [k for _, _, k in made], mk.boiler)
    increments, novel_kinds = [], []
    n_novel = INC_DOCS // 3
    for inc in range(N_INCREMENTS):
        rows = list(rng.sample(base, INC_DOCS - n_novel))
        made = mk.batch(n_novel, earlier)
        fresh = [i for i, (_, _, k) in enumerate(made) if k == "fresh"]
        near_corpus = set(rng.sample(fresh, round(len(fresh) * NEAR_CORPUS_SHARE)))
        for i, (text, lang, kind) in enumerate(made):
            if i in near_corpus:
                text, kind = mk.near_copy(rng.choice(base)["text"]), "near_corpus"
            rows.append(doc_row(next(ids_novel), text, lang))
            novel_kinds.append(kind)
        increments += [dict(r, inc=inc, ts_s=1_700_000_000 + inc) for r in rows]
    novel = [r for r in increments if r["doc_id"] % 3 == 0]
    crawl = sorted(base + [{k: r[k] for k in base[0]} for r in novel], key=lambda r: r["doc_id"])
    props.update({"increments": N_INCREMENTS, "increment_docs": INC_DOCS,
                  "increment_novel_docs": n_novel,
                  "increment_ingested_share": round(1 - n_novel / INC_DOCS, 4),
                  "novel_exact_dups": novel_kinds.count("exact_dup"),
                  "novel_near_corpus_copies": novel_kinds.count("near_corpus")})
    return {"documents": base, "crawl": crawl,
            "increments": sorted(increments, key=lambda r: (r["inc"], r["doc_id"]))}, props


GENERATORS = {"audio_ingest": gen_audio, "text_corpus": gen_text_corpus}


def canonical_lines(rows):
    return "".join(json.dumps(r, sort_keys=True, ensure_ascii=False) + "\n" for r in rows)


def generate(workload, seed):
    """-> (tables as canonical JSON-lines text, properties, sha256)."""
    tables, props = GENERATORS[workload](seed)
    text = {name: canonical_lines(rows) for name, rows in sorted(tables.items())}
    h = hashlib.sha256()
    for name, t in text.items():
        h.update(name.encode() + b"\0" + t.encode("utf-8"))
    return text, props, h.hexdigest()


SCHEMAS = {
    "customer": "c_custkey BIGINT, c_name VARCHAR",
    "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
    "crawl": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
    "increments": "doc_id BIGINT, text VARCHAR, ts_s BIGINT, inc BIGINT",
}


def write_inputs(workload, seed, out_dir):
    """Generate and write the parquet inputs under out_dir; returns
    (properties, sha256). Increments land as inc/inc-NNNNN.parquet."""
    import duckdb
    text, props, digest = generate(workload, seed)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, lines in text.items():
        src = os.path.join(out_dir, f"{name}.jsonl")
        with open(src, "w", encoding="utf-8") as f:
            f.write(lines)
        cols = SCHEMAS[name]
        names = ", ".join(c.split()[0] for c in cols.split(", "))
        colspec = "{" + ", ".join(f"'{c.split()[0]}': '{c.split()[1]}'" for c in cols.split(", ")) + "}"
        rel = f"SELECT {names} FROM read_json('{src}', format='newline_delimited', columns={colspec})"
        if name == "increments":
            os.makedirs(os.path.join(out_dir, "inc"), exist_ok=True)
            n = con.sql(f"SELECT max(inc) + 1 FROM ({rel})").fetchone()[0]
            for i in range(n):
                con.sql(f"COPY (SELECT doc_id, text, ts_s FROM ({rel}) WHERE inc = {i} ORDER BY doc_id) "
                        f"TO '{out_dir}/inc/inc-{i:05d}.parquet' (FORMAT PARQUET)")
            con.sql(f"CREATE TABLE increments AS {rel}")
        else:
            # the crawl is the `documents` table of the refresh oracle
            dst = (os.path.join(out_dir, "crawl", "documents.parquet") if name == "crawl"
                   else os.path.join(out_dir, f"{name}.parquet"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            # small row groups let the oracle's scans run in parallel
            con.sql(f"COPY ({rel} ORDER BY 1) TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE 128)")
        os.remove(src)
    if "increments" in text:
        con.sql(f"COPY (SELECT doc_id, inc FROM increments ORDER BY doc_id) "
                f"TO '{out_dir}/increment_ids.parquet' (FORMAT PARQUET)")
    con.close()
    return props, digest
