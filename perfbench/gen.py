"""Seeded input generator for the flow benchmark.

Writes, under one directory, the listing pages, warm-store history, corpus
days and the ground truth each workload is checked against. The program
under test only ever sees the pages and parquet files; the truth stays on
the benchmark side.

    python3 perfbench/gen.py --workload ingest_incremental --seed 7 --out DIR

Edge cases (FIXTURES.md section 2 and 5) are planted at fixed shares:
listing elements missing a title or an href, in-run duplicate URLs, decoy
items outside the PhocusWire listing container, malformed dates,
equal-date overlap articles, sub-watermark articles mid-page (early stop);
corpus days carry exact clones and crawl-noise variants of history docs,
in-batch clones, and repetitive documents the quality gates must drop.
"""
import argparse
import datetime as dt
import hashlib
import heapq
import json
import os
import random
import unicodedata

import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_WM = dt.datetime(2025, 7, 25)
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]

# Sizes per workload. Every corpus day is timed in every run; the ingest
# loop is bounded by time and replays as many of its days as fit.
SIZES = {
    "ingest_incremental": dict(history=30000, days=20, new_pages=4, per_page=10),
    "corpus_daily": dict(history=2000, days=3, day_docs=100),
}

# Shares of planted edge cases among generated listing elements.
SHARE_NO_TITLE = 0.02
SHARE_NO_HREF = 0.02
SHARE_BAD_DATE = 0.02
SHARE_DUP = 0.03
# Shares of planted documents in a corpus day.
SHARE_HIST_EXACT = 0.06
SHARE_HIST_NOISE = 0.04
SHARE_INBATCH = 0.04
SHARE_SPAM = 0.05


def md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------- listing

class Article:
    __slots__ = ("site", "link", "href", "title", "author", "time", "kind", "id")

    def __init__(self, site, slug, title, author, time, kind="ok"):
        self.site = site
        if site == "Skift":
            self.href = f"https://skift.com/{time:%Y/%m/%d}/{slug}/"
            self.link = self.href
        else:
            self.href = f"/{slug}"
            self.link = "https://www.phocuswire.com/" + self.href
        self.title = title
        self.author = author
        self.time = time if site == "Skift" else dt.datetime(time.year, time.month, time.day)
        self.kind = kind  # ok | no_title | no_href | bad_date
        self.id = md5(self.link)

    @property
    def valid(self):
        return self.kind in ("ok", "bad_date")

    @property
    def parsed_time(self):
        return None if self.kind == "bad_date" else self.time

    def row(self):
        return [self.id, self.link, self.title, self.author, ts(self.time), self.site]


def skift_html(a):
    stamp = ("2025-13-45T99:61:00+00:00" if a.kind == "bad_date"
             else a.time.strftime("%Y-%m-%dT%H:%M:%S") + "+00:00")
    if a.kind == "no_title":
        head = ""
    elif a.kind == "no_href":
        head = f'<h3 class="c-tease__title"><a>{a.title}</a></h3>'
    else:
        head = f'<h3 class="c-tease__title"><a href="{a.href}">{a.title}</a></h3>'
    author = f'<a class="underline">{a.author}</a>' if a.author else ""
    return (f'<article class="c-tease">{head}<div class="c-tease__byline">{author}'
            f'<time datetime="{stamp}"/></div></article>\n')


def phocus_html(a):
    date = ("Julember 41, 2025" if a.kind == "bad_date"
            else f"{MONTHS[a.time.month - 1]} {a.time.day}, {a.time.year}")
    if a.kind == "no_title":
        head = f'<a class="title" href="{a.href}"></a>'
    elif a.kind == "no_href":
        head = f'<a class="title">{a.title}</a>'
    else:
        head = f'<a class="title" href="{a.href}">{a.title}</a>'
    author = f'<span class="name">By {a.author}</span>' if a.author else ""
    return f'<div class="item">{head}<div class="author">{author} | {date}</div></div>\n'


def page_html(site, arts, rng):
    if site == "Skift":
        # a teaser headline outside any <article> element is not a listing item
        decoy = ('<aside><h3 class="c-tease__title"><a href="https://skift.com/promo/">'
                 'Sponsored</a></h3></aside>\n')
        return ("<html><body>" + decoy + "<main>\n" + "".join(skift_html(a) for a in arts)
                + "</main></body></html>")
    side = ('<div class="sidebar"><div class="item"><a class="title" href="/sidebar-'
            f'{rng.randrange(10**6)}">Most read</a><div class="author"><span class="name">'
            'By Desk</span> | August 1, 2025</div></div></div>\n')
    foot = ('<div class="footer"><div class="item"><a class="title" href="/promo-'
            f'{rng.randrange(10**6)}">Partner content</a><div class="author"> | '
            'August 2, 2025</div></div></div>')
    return ("<html><body>" + side + '<div class="article-list">\n'
            + "".join(phocus_html(a) for a in arts) + "</div>\n" + foot + "</body></html>")


class Words:
    def __init__(self, rng):
        self.rng = rng
        syll = ["tra", "vel", "ho", "tel", "air", "line", "book", "ing", "dis", "tri",
                "bu", "tion", "pay", "ment", "loy", "al", "ty", "ven", "ture", "fund"]
        self.vocab = sorted({"".join(rng.choice(syll) for _ in range(rng.randint(1, 3)))
                             for _ in range(400)})
        self.names = ["Dennis Schaal", "Sean O’Neill", "Rashaad Jorden", "Meliá Ortiz",
                      "Jill Menze", "Mitra Sorrells", "Matt Parsons", "Colin Nagy"]

    def title(self):
        words = [self.rng.choice(self.vocab) for _ in range(self.rng.randint(4, 9))]
        words[0] = words[0].capitalize()
        return " ".join(words)

    def slug(self, n):
        return "-".join(self.rng.choice(self.vocab) for _ in range(3)) + f"-{n}"

    def author(self):
        return None if self.rng.random() < 0.05 else self.rng.choice(self.names)


def plant(rng, arts):
    """Mark fixed shares of elements as edge cases; returns the list with
    in-run duplicates (exact re-listings) inserted."""
    for a in arts:
        r = rng.random()
        if r < SHARE_NO_TITLE:
            a.kind = "no_title"
        elif r < SHARE_NO_TITLE + SHARE_NO_HREF:
            a.kind = "no_href"
        elif r < SHARE_NO_TITLE + SHARE_NO_HREF + SHARE_BAD_DATE:
            a.kind = "bad_date"
    out = []
    for a in arts:
        out.append(a)
        if a.kind == "ok" and rng.random() < SHARE_DUP:
            out.append(a)  # the same item listed twice in one run
    return out


def paginate(arts, per_page):
    return [arts[i:i + per_page] for i in range(0, len(arts), per_page)]


def scrape_truth(pages, watermark):
    """Replays PaginatedSource's early stop and the plan's Q1-Q4 steps:
    pages are fetched until one holds an article dated before the
    watermark; invalid elements and sub-watermark or unparseable dates
    drop; duplicate links collapse (they are exact copies)."""
    fetched, batch = 0, {}
    for arts in pages:
        if not arts:
            break
        fetched += 1
        for a in arts:
            t = a.parsed_time
            if a.valid and t is not None and t >= watermark:
                batch[a.link] = a
        if any(a.parsed_time is not None and a.parsed_time < watermark for a in arts):
            break
    return fetched, batch


def top_n(store, n=5):
    """ArticleStore.topN: newest publish time first, then Article_id."""
    top = heapq.nsmallest(n, store.values(), key=lambda a: (-a.time.timestamp(), a.id))
    return [a.row() for a in top]


def write_pages(path, pages_html):
    with open(path, "w", encoding="utf-8") as f:
        for h in pages_html:
            f.write(json.dumps(h, ensure_ascii=False) + "\n")


def gen_incremental(rng, out, history, days, new_pages, per_page):
    """A warm store of `history` articles, then `days` scheduled scrapes.
    Each day lists that day's new articles, the equal-date overlap day
    (re-listed, some with a corrected title: an update in place), and
    older articles that end pagination."""
    words = Words(rng)
    day0 = DEFAULT_WM + dt.timedelta(days=30)
    store, n, by_day = {}, 0, {}
    rows = []
    for i in range(history):
        site = "Skift" if i % 2 == 0 else "Phocuswire"
        t = day0 - dt.timedelta(minutes=(history - 1 - i) * 7 + rng.randrange(5))
        n += 1
        a = Article(site, words.slug(n), words.title(), words.author(), t)
        store[a.id] = a
        by_day.setdefault((site, a.time.date()), []).append(a)
        rows.append(a.row())
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "Article_id": list(cols[0]), "News_link": list(cols[1]),
        "News_title": list(cols[2]), "Author_name": list(cols[3]),
        "News_published_time": list(cols[4]), "Source_name": list(cols[5])}),
        os.path.join(out, "history.parquet"))
    truth = {"history_rows": len(store), "days": []}
    for d in range(1, days + 1):
        day = (day0 + dt.timedelta(days=d)).date()
        wm = max(a.time for a in store.values())
        wm = dt.datetime(wm.year, wm.month, wm.day)
        day_truth = {"watermark": ts(wm), "sites": {}}
        for site in ("Skift", "Phocuswire"):
            fresh = []
            for i in range(new_pages * per_page):
                n += 1
                t = dt.datetime.combine(day, dt.time(23, 0)) - dt.timedelta(minutes=11 * i)
                fresh.append(Article(site, words.slug(n), words.title(), words.author(), t))
            fresh = plant(rng, fresh)
            prev = by_day.get((site, wm.date()), [])
            overlap = []
            for a in prev[-per_page:][::-1]:
                b = Article(site, "x", a.title, a.author, a.time)
                b.link, b.href, b.id = a.link, a.href, a.id
                if rng.random() < 0.3:
                    b.title = a.title + " (updated)"
                overlap.append(b)
            older = [Article(site, words.slug(n + j + 1), words.title(), words.author(),
                             wm - dt.timedelta(hours=3 + j)) for j in range(per_page)]
            n += per_page
            listed = paginate(fresh + overlap + older, per_page)
            fetched, batch = scrape_truth(listed, wm)
            for a in batch.values():
                store[a.id] = a
                if a.time.date() == day:
                    by_day.setdefault((site, day), []).append(a)
            write_pages(os.path.join(out, f"day{d:03d}.{site.lower()}.pages.jsonl"),
                        [page_html(site, p, rng) for p in listed])
            day_truth["sites"][site] = {"pages_fetched": fetched, "batch_rows": len(batch)}
        day_truth["rows"] = len(store)
        day_truth["batch_rows"] = sum(s["batch_rows"] for s in day_truth["sites"].values())
        day_truth["topn"] = top_n(store)
        truth["days"].append(day_truth)
    return truth


# ----------------------------------------------------------------- corpus

def norm_tokens(text):
    t = unicodedata.normalize("NFC", text).lower()
    for z in "​‌‍﻿":
        t = t.replace(z, "")
    return " ".join(t.split()).split(" ")


def gates_pass(text):
    """CorpusPipeline's repetition and quality gates on normalized tokens."""
    w = norm_tokens(text)
    n = len(w)
    counts = {}
    for x in w:
        counts[x] = counts.get(x, 0) + 1
    mx = max(counts.values())
    bigrams = [w[i] + " " + w[i + 1] for i in range(n - 1)]
    bc = {}
    for g in bigrams:
        bc[g] = bc.get(g, 0) + 1
    dup_mass = sum(c for c in bc.values() if c > 1)
    top_word = (1000 * mx) // n
    dup_bigram = (1000 * dup_mass) // len(bigrams) if bigrams else 0
    score = (400 * min(n, 50)) // 50 + (800 * len(counts)) // n + 200 - (200 * mx) // n
    return top_word <= 200 and dup_bigram <= 200 and score >= 750


class Corpus:
    def __init__(self, rng):
        self.rng = rng
        letters = "bcdfghjklmnprstvwz"
        vowels = "aeiouáéíóú"
        vocab = set()
        while len(vocab) < 3000:
            vocab.add("".join(rng.choice(letters) + rng.choice(vowels)
                              for _ in range(rng.randint(2, 4))))
        self.vocab = sorted(vocab)

    def doc(self):
        return " ".join(self.rng.choice(self.vocab) for _ in range(self.rng.randint(40, 90)))

    def spam(self):
        w = self.rng.choice(self.vocab)
        return " ".join([w] * 30 + [self.rng.choice(self.vocab) for _ in range(20)])


def crawl_noise(text, rng):
    """FIXTURES section 5 crawl noise: either a zero-width prefix, upper-cased
    body and trailing whitespace run, or NFD-decomposed accents. Both
    normalize back to the history doc's text."""
    if rng.random() < 0.5:
        return "​" + text.upper() + "  \t"
    return unicodedata.normalize("NFD", text)


def write_docs(path, ids, texts):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


def gen_corpus(rng, out, history, days, day_docs):
    c = Corpus(rng)
    hist = {i: c.doc() for i in range(1, history + 1)}
    write_docs(os.path.join(out, "history.parquet"), list(hist), list(hist.values()))
    hist_pool = list(hist)
    rng.shuffle(hist_pool)
    truth = {"history_docs": history, "days": []}
    for d in range(1, days + 1):
        base = d * 1_000_000
        n_hist_exact = int(day_docs * SHARE_HIST_EXACT)
        n_hist_noise = int(day_docs * SHARE_HIST_NOISE)
        n_inbatch = int(day_docs * SHARE_INBATCH)
        n_spam = int(day_docs * SHARE_SPAM)
        n_fresh = day_docs - n_hist_exact - n_hist_noise - n_inbatch - n_spam
        docs, kept, dup, gated = [], [], [], []
        for i in range(n_fresh):
            docs.append((base + i, c.doc()))
        for i in range(n_spam):
            docs.append((base + n_fresh + i, c.spam()))
        nxt = base + n_fresh + n_spam
        for _ in range(n_hist_exact):
            docs.append((nxt, hist[hist_pool.pop()]))
            nxt += 1
        for _ in range(n_hist_noise):
            docs.append((nxt, crawl_noise(hist[hist_pool.pop()], rng)))
            nxt += 1
        for _ in range(n_inbatch):  # larger id than its original: the clone drops
            docs.append((nxt, docs[rng.randrange(n_fresh)][1]))
            nxt += 1
        planted_hist = set(range(base + n_fresh + n_spam,
                                 base + n_fresh + n_spam + n_hist_exact + n_hist_noise))
        planted_inbatch = set(range(nxt - n_inbatch, nxt))
        for doc_id, text in docs:
            if not gates_pass(text):
                gated.append(doc_id)
            elif doc_id in planted_hist or doc_id in planted_inbatch:
                dup.append(doc_id)
            else:
                kept.append(doc_id)
        rng.shuffle(docs)
        write_docs(os.path.join(out, f"day{d:03d}.parquet"),
                   [x[0] for x in docs], [x[1] for x in docs])
        truth["days"].append({
            "n_in": len(docs), "n_gated_out": len(gated), "n_dup_dropped": len(dup),
            "n_kept": len(kept), "planted": sorted(planted_hist | planted_inbatch),
            "kept_digest": hashlib.sha256(
                ",".join(map(str, sorted(kept))).encode()).hexdigest()})
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rng = random.Random(f"{args.workload}:{args.seed}")
    s = SIZES[args.workload]
    if args.workload == "ingest_incremental":
        truth = gen_incremental(rng, args.out, s["history"], s["days"], s["new_pages"],
                                s["per_page"])
    else:
        truth = gen_corpus(rng, args.out, s["history"], s["days"], s["day_docs"])
    truth["workload"], truth["seed"], truth["sizes"] = args.workload, args.seed, s
    with open(os.path.join(args.out, "truth.json"), "w") as f:
        json.dump(truth, f)


if __name__ == "__main__":
    main()
