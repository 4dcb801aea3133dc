"""Seeded fixture generators, one per workload, written as parquet with pyarrow.

Every fixture is a pure function of (generator, seed, size). The planted
defects follow FIXTURES.md section 1 (WebGen's dirty variants) and the
d_curate recipe; the benchmark's output checks derive their expected values
from the same index rules (perfbench/src/.../Workloads.scala).
"""

import datetime as dt
import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2025, 7, 1, tzinfo=dt.timezone.utc)
SECONDS_STEP = 37
N_DOMAINS = 50
WORDS = ("web page crawl index link data text open net info site host path query "
         "frame image style script title body").split()
SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
LANGS = ((62, "en"), (73, "de"), (82, "fr"), (89, "es"), (95, "ru"), (100, "zz"))


def web_url(key, seed):
    """WebGen's url recipe: Zipf-ish hot domains, sha-derived unique path."""
    domain = math.floor(math.pow(key % 1000, 1.7)) % N_DOMAINS
    path = hashlib.sha256(f"{seed}:{key}".encode()).hexdigest()[:12]
    return f"https://d{domain}.example.org/p/{path}"


def wrap_html(text):
    return f"<html><body><p>{text}</p></body></html>".encode()


def web_rows(n, seed, dirty, ts_of):
    """WebGen-shaped rows 0..n-1. With `dirty`: every 97th row repeats its
    predecessor's url, every 53rd has NULL text, every 71st a text with one
    trailing space that its html lacks."""
    rng = random.Random(seed)
    cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    for i in range(n):
        key = i - 1 if dirty and i % 97 == 0 and i > 0 else i
        n_words = 5 + rng.randrange(16) + (rng.randrange(60) if rng.randrange(11) == 0 else 0)
        body = " ".join(rng.choices(WORDS, k=n_words))
        u = rng.randrange(100)
        text = body
        if dirty and i % 71 == 0:
            text = body + " "
        if dirty and i % 53 == 0:
            text = None
        cols["url"].append(web_url(key, seed))
        cols["warc_ts"].append(ts_of(i))
        cols["html"].append(wrap_html(body))
        cols["text"].append(text)
        cols["lang"].append(next(l for t, l in LANGS if u < t))
    return cols


def write(cols, path, rows=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sel = {k: (v if rows is None else v[rows]) for k, v in cols.items()}
    pq.write_table(pa.table(sel, schema=SCHEMA), path)


def write_partitioned(cols, out, part_col, part_of):
    """One file per partition value under hive-style `part_col=value` dirs."""
    parts = {}
    for i in range(len(cols["url"])):
        parts.setdefault(part_of(i), []).append(i)
    for value, idx in parts.items():
        sub = {k: [v[j] for j in idx] for k, v in cols.items()}
        write(sub, os.path.join(out, f"{part_col}={value}", "part-0.parquet"))


def stretched(rows, span_days):
    """Timestamp of row i when `rows` rows span `span_days` days, and its day."""
    stretch = span_days * 86400.0 / (rows * SECONDS_STEP)

    def seconds(i):
        return math.floor(i * SECONDS_STEP * stretch)
    return (lambda i: EPOCH + dt.timedelta(seconds=seconds(i)),
            lambda i: (EPOCH + dt.timedelta(seconds=seconds(i))).date())


def gen_validate(out, seed, rows, span_days):
    """WebGen's dirty rows spanning `span_days` day partitions (p_day)."""
    ts_of, day_of = stretched(rows, span_days)
    write_partitioned(web_rows(rows, seed, True, ts_of), os.path.join(out, "input"), "p_day",
                      lambda i: day_of(i).isoformat())


def gen_ingest(out, seed, rows, files, batch_rows, batches, repeat_every, repeat_span,
               hosts, **_):
    """Crawl pages on the curate recipe: a history of `rows` pages, then
    `batches` batches that follow it in time. Every `repeat_every`-th page of
    a batch's first `repeat_span` pages carries the url of a history page (the
    planted cross-batch duplicates)."""
    cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    for i in range(rows + batches * batch_rows):
        url, html, text = curate_doc(i, seed, hosts)
        if i >= rows:
            k, j = divmod(i - rows, batch_rows)
            if j % repeat_every == 0 and j < repeat_span:
                url = curate_doc((j * 7919 + k * 104729) % rows, seed, hosts)[0]
        cols["url"].append(url)
        cols["warc_ts"].append(EPOCH + dt.timedelta(seconds=i * SECONDS_STEP))
        cols["html"].append(html)
        cols["text"].append(text)
        cols["lang"].append("en")
    per_file = -(-rows // files)
    for f in range(files):
        write(cols, os.path.join(out, "slices", "slice=history", f"part-{f}.parquet"),
              slice(f * per_file, min(rows, (f + 1) * per_file)))
    for k in range(batches):
        lo = rows + k * batch_rows
        write(cols, os.path.join(out, "slices", f"slice=b{k:03d}", "part-0.parquet"),
              slice(lo, lo + batch_rows))


def _base(tag):
    return (f"The quick brown fox named {tag} jumps over the lazy dog in the field today.\n"
            "Many people walk along the river and watch the water move slowly past them.\n"
            "Every sentence here contains plenty of ordinary words that keep the metrics happy.\n"
            "Some final words arrive at the end of this small test document now.")


def _tail(tag):
    return (f"A second paragraph about {tag} describes the weather and the town with care.\n"
            "Children play in the park while their parents talk to the neighbours.\n"
            "The market opens early and the bakers sell bread to the first visitors.\n"
            "Evening falls and the lights of the houses shine over the quiet streets.")


def curate_doc(k, seed, hosts):
    """(url, html, text) of page k on the d_curate planting recipe, one
    defect class per residue of k mod 20, each removed by exactly one curate
    stage: 1 blocked host, 2 noindex page, 4 a paragraph shared by the whole
    class (paragraph dedup keeps the first), 5 `{` poison (C4), 8 too few
    words (Gopher), 6/7 a lower/upper case twin pair (exact-text dedup keeps
    one), 3 a shared paragraph beside an own one (survives). Other residues
    are ordinary two-paragraph pages. Classes 1, 2 and 4..8 get hosts of
    their own; the rest share `hosts` skewed hosts, which the host cap
    trims."""
    s = f"s{seed}"
    m = k % 20
    own = f"{s}x{k}"
    pair = f"{s}p{k // 20}"
    if m == 4:
        text = _base("dup" + s)
    elif m == 3:
        text = _base("shared" + s) + "\n\n" + _tail(own)
    elif m == 6:
        text = _base(pair)
    elif m == 7:
        text = _base(pair).upper()
    elif m == 8:
        text = (f"Short page {own} has few words.\nIt says very little here today.\n"
                "Nothing more is written on it.\nThat is the whole page of text.")
    else:
        text = _base("own" + own) + "\n\n" + _tail(own) + (" {" if m == 5 else "")
    if m == 1:
        host = "blocked.bad"
    elif m in (2, 4, 5, 6, 7, 8):
        host = f"u{k}.example.org"
    else:
        r = k % 1000
        host = f"h{r * r * hosts // 1000000}.example.org"
    html = (f'<html><head><meta name="robots" content="noindex"></head><body><p>{text}'
            "</p></body></html>").encode() if m == 2 else wrap_html(text)
    return f"https://{host}/p/{s}-{k}", html, text
