"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and returns the inputs together
with a record of their shape (the shares later claims cite) and the
ground truth the correctness checks compare against. The program under
test only ever sees the generated inputs.
"""

import bisect
import hashlib
import random

LINE_SIZE = 160
N_PROGRAMS = 16  # distinct $PROGRAM values the app-style shapes draw from

# The eight vendor shapes of the `default_network` query. For each:
# the app name default-network-drivers() assigns, the junction channel
# of the benchmark config the line must land in, and how $PROGRAM (the
# sink's path partition) comes out. `None` = no PROGRAM, which the file
# sink writes to the default partition.
SHAPES = [
    ("cisco", "netdev", lambda k: None),
    ("checkpoint", "netdev", lambda k: "CheckPoint"),
    ("fortigate", "netdev", lambda k: None),
    ("sudo", "host", lambda k: "sudo"),
    ("iptables", "host", lambda k: "kernel"),
    ("cee", "other", lambda k: "app"),
    ("ewmm", "other", lambda k: "app%d" % k),
    ("unknown", "other", lambda k: "app%d" % k),
]


def _render(shape, seq, uid, k, pad):
    ip = uid % 256
    if shape == "cisco":
        return ("<189>%d: Jan 12 03:04:05: %%SYS-5-CONFIG_I: Configured from "
                "console by u%d seq=%d %s" % (seq, uid, seq, pad))
    if shape == "checkpoint":
        return ('<134>1 2024-01-12T03:04:05Z gw-%d CheckPoint 1930 - '
                '[action:"Accept"; src:"10.0.0.%d"; seq:"%d"; pad:"%s";]'
                % (uid, ip, seq, pad))
    if shape == "fortigate":
        return ("<189>date=2024-01-12 time=03:04:05 devname=fw%d devid=FGT60 "
                "logid=0100032003 type=event subtype=system level=notice "
                "seq=%d pad=%s" % (uid, seq, pad))
    if shape == "sudo":
        return ("<85>Jan 12 03:04:05 h%d sudo: u%d : TTY=pts/0 ; PWD=/home/u%d "
                "; USER=root ; COMMAND=/bin/echo seq=%d %s"
                % (uid, uid, uid, seq, pad))
    if shape == "iptables":
        return ("<6>Jan 12 03:04:05 h%d kernel: IN=eth0 OUT= SRC=10.0.0.%d "
                "DST=10.0.1.2 LEN=60 PROTO=TCP SPT=1042 DPT=22 SEQ=%d PAD=%s"
                % (uid, ip, seq, pad))
    if shape == "cee":
        return ('<13>Jan 12 03:04:05 h%d app: @cee:{"event":"login",'
                '"user":"u%d","seq":"%d","pad":"%s"}' % (uid, uid, seq, pad))
    if shape == "ewmm":
        return ('<13>1 2024-01-12T03:04:05Z h%d @syslog-ng - - - '
                '{"MESSAGE":"inner seq=%d %s","PROGRAM":"app%d",'
                '"._TAGS":"t1,t2"}' % (uid, seq, pad, k))
    return "<13>Jan 12 03:04:05 h%d app%d: hello seq=%d %s" % (uid, k, seq, pad)


def syslog_line(shape, seq, uid, k):
    """One loggen-shaped line of exactly LINE_SIZE bytes (no newline)."""
    bare = _render(shape, seq, uid, k, "")
    n = LINE_SIZE - len(bare)
    if n < 1:
        raise ValueError("line template too long for %d bytes: %r" % (LINE_SIZE, bare))
    return _render(shape, seq, uid, k, "P" * n)


class SyslogStream:
    """Seeded message source. `take(n)` renders the next n messages.

    Message i gets a seq number, a vendor shape drawn uniformly from
    SHAPES, a host id and an app index. `expected` maps seq to the
    (program partition, junction route, app name) the config must
    deliver it under.
    """

    def __init__(self, seed, first_seq=0):
        self.rng = random.Random(seed)
        self.next_seq = first_seq
        self.expected = {}
        self.shape_counts = {s[0]: 0 for s in SHAPES}

    def take(self, n):
        lines = []
        for _ in range(n):
            seq = self.next_seq
            self.next_seq += 1
            name, route, program = SHAPES[self.rng.randrange(len(SHAPES))]
            uid = self.rng.randrange(1, 1000)
            k = self.rng.randrange(N_PROGRAMS)
            lines.append(syslog_line(name, seq, uid, k).encode() + b"\n")
            self.expected[seq] = (program(k), route, name)
            self.shape_counts[name] += 1
        return lines

    def shape(self):
        total = sum(self.shape_counts.values()) or 1
        return {
            "line_bytes": LINE_SIZE,
            "messages": sum(self.shape_counts.values()),
            "vendor_shares": {k: round(v / total, 4)
                              for k, v in sorted(self.shape_counts.items())},
            "programs": N_PROGRAMS,
        }


# ---------------------------------------------------------------------------
# documents: the sf0.1 `documents` schema with planted duplicates
# ---------------------------------------------------------------------------

# sf0.1's language mix (en 41%, the other four ~15% each) and its
# character-length range (44..577, near-uniform).
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
MIN_CHARS, MAX_CHARS = 44, 577
VOCAB = 3000
EXACT_SHARE = 0.05  # docs that are an exact copy of an earlier doc
NEAR_SHARE = 0.05   # docs that are a one-word edit of an earlier doc
NEAR_MIN_WORDS = 26  # one-word edits of >= 26 words keep Jaccard >= 0.95
_SYLL = {
    "en": ["th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha", "at", "en"],
    "zh": ["zh", "ang", "xi", "qu", "ji", "ong", "ai", "shi", "li", "wu", "ba", "ne"],
    "es": ["es", "de", "la", "que", "el", "os", "ar", "ci", "do", "ra", "te", "lo"],
    "fr": ["le", "es", "ou", "ai", "de", "qu", "ent", "eu", "on", "re", "oi", "ne"],
    "de": ["en", "er", "ch", "ei", "sch", "ie", "un", "ge", "st", "au", "be", "te"],
}


def _vocab(lang, rng):
    syl = _SYLL[lang]
    words = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(1, 4))))
    words = sorted(words)
    rng.shuffle(words)
    # Zipf(1.1) rank weights, as cumulative sums for bisect sampling
    cum, acc = [], 0.0
    for r in range(1, VOCAB + 1):
        acc += 1.0 / r ** 1.1
        cum.append(acc)
    return words, cum


def shingles(text):
    """Distinct 3-word shingles, as the minhash queries define them."""
    w = text.strip().split(" ")
    return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def documents(seed, n_docs):
    """Return (docs, truth). docs: list of dicts in the sf0.1 schema.

    truth holds the shape record and the planted duplicate structure:
    `exact_clusters` (lists of doc ids with identical text) and
    `near_pairs` ((base id, edited id, true Jaccard) for every one-word
    edit, all with Jaccard >= 0.95).
    """
    rng = random.Random(seed)
    vocabs = {lang: _vocab(lang, rng) for lang, _ in LANGS}
    lang_cum = []
    acc = 0.0
    for lang, p in LANGS:
        acc += p
        lang_cum.append((acc, lang))

    def pick_lang():
        u = rng.random() * acc
        for c, lang in lang_cum:
            if u <= c:
                return lang
        return LANGS[-1][0]

    def fresh_text(lang):
        words, cum = vocabs[lang]
        target = rng.randint(MIN_CHARS, MAX_CHARS)
        out, n = [], -1
        while n < target:
            wd = words[bisect.bisect_left(cum, rng.random() * cum[-1])]
            out.append(wd)
            n += len(wd) + 1
        return " ".join(out)

    docs, exact_of, near_pairs = [], {}, []
    for doc_id in range(n_docs):
        lang = pick_lang()
        u = rng.random()
        text = None
        if doc_id > 0 and u < EXACT_SHARE:
            base = docs[rng.randrange(doc_id)]
            lang, text = base["lang"], base["text"]
            root = exact_of.get(base["doc_id"], base["doc_id"])
            exact_of[doc_id] = root
            exact_of.setdefault(root, root)
        elif doc_id > 0 and u < EXACT_SHARE + NEAR_SHARE:
            base = docs[rng.randrange(doc_id)]
            w = base["text"].split(" ")
            if len(w) >= NEAR_MIN_WORDS:
                words, cum = vocabs[base["lang"]]
                if rng.random() < 0.5:
                    w2 = w + [words[bisect.bisect_left(cum, rng.random() * cum[-1])]]
                else:
                    w2 = w[:-1]
                lang, text = base["lang"], " ".join(w2)
                if text != base["text"]:
                    near_pairs.append((base["doc_id"], doc_id,
                                       jaccard(base["text"], text)))
                else:
                    text = None
        if text is None:
            text = fresh_text(lang)
        docs.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": "src%d" % (doc_id % 20), "n_chars": len(text)})

    clusters = {}
    for d, root in exact_of.items():
        clusters.setdefault(root, set()).add(d)
    exact_clusters = sorted(sorted(c) for c in clusters.values() if len(c) > 1)
    lens = sorted(d["n_chars"] for d in docs)
    lang_counts = {}
    for d in docs:
        lang_counts[d["lang"]] = lang_counts.get(d["lang"], 0) + 1
    in_exact = sum(len(c) for c in exact_clusters)
    shape = {
        "docs": n_docs,
        "n_chars_p10_p50_p90": [lens[n_docs // 10], lens[n_docs // 2],
                                lens[n_docs * 9 // 10]],
        "lang_shares": {k: round(v / n_docs, 4) for k, v in sorted(lang_counts.items())},
        "exact_dup_clusters": len(exact_clusters),
        "exact_dup_doc_share": round(in_exact / n_docs, 4),
        "near_dup_pairs": len(near_pairs),
        "near_dup_doc_share": round(len(near_pairs) / n_docs, 4),
        "near_dup_min_jaccard": round(min((p[2] for p in near_pairs), default=1.0), 4),
    }
    return docs, {"shape": shape, "exact_clusters": exact_clusters,
                  "near_pairs": near_pairs}


def classifier_score(text, n_buckets=4096):
    """Reference for text_classifier_score: unigram+bigram md5 buckets,
    weight (bucket % 7) - 3."""
    ws = [t for t in text.strip().split() if t]
    feats = ws + [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
    score = 0
    for f in feats:
        b = int(hashlib.md5(f.encode()).hexdigest()[:6], 16) % n_buckets
        score += b % 7 - 3
    return len(feats), score


def salient_terms(docs, top_k=3):
    """Reference for text_salient_terms: tf * N / df, top-k by (score
    desc, term asc). Returns {doc_id: [(term, tf, df, rank), ...]}."""
    tfs = {}
    df = {}
    for d in docs:
        tf = {}
        for t in d["text"].strip().split(" "):
            if t:
                tf[t] = tf.get(t, 0) + 1
        tfs[d["doc_id"]] = tf
        for t in tf:
            df[t] = df.get(t, 0) + 1
    n = len(docs)
    out = {}
    for doc_id, tf in tfs.items():
        scored = sorted(((float(c) * n / df[t], t, c) for t, c in tf.items()),
                        key=lambda x: (-x[0], x[1]))
        out[doc_id] = [(t, c, df[t], r + 1) for r, (_, t, c) in enumerate(scored[:top_k])]
    return out
