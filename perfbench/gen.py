"""Seeded input generators with planted labels.

Every table is a pure function of (workload, seed, size). The program under
test only ever sees the data columns; the labels stay in the benchmark and
score the outputs (``output_f1``).

* pages    — web pages with Zipf-skewed hosts, planted quality defects
             (drop), PII pages (keep, scrubbed), html-only rows (text NULL,
             extracted), and exact duplicates of earlier clean pages.
* stations — a constant-density station network with planted gross errors,
             invalid metadata, out-of-range values and isolated stations.
* corpus   — documents with planted near-duplicate clones and a hot share of
             boilerplate pages that all land in the same LSH buckets.
* vectors  — Gaussian embeddings with planted near-duplicate clones.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Function words per language. Clean pages draw 45% of their tokens from
# these, which is what a stopword-profile language identifier keys on.
STOPWORDS = {
    "en": "the of and to in a is that it was for on are as with his they at be this "
          "have from or had by not but what were we".split(),
    "de": "der die und in den von zu das mit sich des auf ist im dem nicht ein eine "
          "als auch es an werden aus er hat dass sie nach wird".split(),
    "fr": "le de un et il ne je son que se qui ce dans en du elle au pour pas sur "
          "plus vous par est les".split(),
    "es": "de la que el en los del se las por un para con no una su al lo como mas "
          "pero sus ya este si porque".split(),
}
CONTENT = {
    "en": "river station network signal weather market report system process method "
          "quality result engine query model city garden music history science "
          "energy water forest mountain school library travel health policy "
          "language computer research design bridge harbor village".split(),
    "de": "fluss station netz signal wetter markt bericht system prozess methode "
          "qualitaet ergebnis motor abfrage modell stadt garten musik geschichte "
          "wissenschaft energie wasser wald berg schule".split(),
    "fr": "riviere station reseau signal meteo marche rapport systeme processus "
          "methode qualite resultat moteur requete modele ville jardin musique "
          "histoire science energie eau foret montagne".split(),
    "es": "rio estacion red senal tiempo mercado informe sistema proceso metodo "
          "calidad resultado motor consulta modelo ciudad jardin musica historia "
          "ciencia energia agua bosque montana".split(),
}

# Page categories: (name, share, expected keep).
PAGE_CATEGORIES = (
    ("clean_en", 0.70, True),
    ("clean_xx", 0.06, True),
    ("html_only", 0.03, True),
    ("pii", 0.04, True),
    ("gibberish", 0.03, False),
    ("too_short", 0.03, False),
    ("repeated_line", 0.03, False),
    ("symbol_heavy", 0.03, False),
    ("long_words", 0.02, False),
    ("empty", 0.01, False),
    ("duplicate", 0.02, False),
)
_BASE_TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
_ALPHA = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(*key: int) -> np.random.Generator:
    # SeedSequence takes non-negative entries; a negative seed maps to its
    # two's-complement value
    return np.random.default_rng(np.random.SeedSequence([int(k) % 2**64 for k in key]))


def _line(rng: np.random.Generator, lang: str, n_words: int) -> str:
    stops, content = STOPWORDS[lang], CONTENT[lang]
    use_stop = rng.random(n_words) < 0.45
    si = rng.integers(0, len(stops), n_words)
    ci = rng.integers(0, len(content), n_words)
    return " ".join(stops[s] if u else content[c] for u, s, c in zip(use_stop, si, ci)) + "."


def _clean_text(rng: np.random.Generator, lang: str) -> str:
    paras = []
    for _ in range(int(rng.integers(2, 5))):
        n_lines = int(rng.integers(2, 5))
        paras.append("\n".join(_line(rng, lang, int(rng.integers(9, 17))) for _ in range(n_lines)))
    return "\n\n".join(paras)


def _junk_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    return ["".join(_ALPHA[rng.integers(0, 26, k)]) for k in lens]


def _page_text(rng: np.random.Generator, cat: str, i: int) -> tuple[str, str]:
    if cat in ("clean_en", "html_only"):
        return _clean_text(rng, "en"), "en"
    if cat == "clean_xx":
        lang = ("de", "fr", "es")[i % 3]
        return _clean_text(rng, lang), lang
    if cat == "pii":
        tail = (f"contact user{i}@example.com or call 555-{int(rng.integers(100, 999))}-"
                f"{int(rng.integers(1000, 9999))} from 10.1.{int(rng.integers(0, 255))}."
                f"{int(rng.integers(1, 255))} now.")
        return _clean_text(rng, "en") + "\n\n" + tail, "en"
    if cat == "gibberish":
        return "\n".join(" ".join(_junk_words(rng, 12, 3, 9)) + "." for _ in range(6)), "und"
    if cat == "too_short":
        return _line(rng, "en", 5), "en"
    if cat == "repeated_line":
        line = _line(rng, "en", 11)
        return "\n".join([line] * 8 + [_line(rng, "en", 11)]), "en"
    if cat == "symbol_heavy":
        words = _clean_text(rng, "en").split(" ")
        marks = rng.random(len(words)) < 0.4
        return " ".join("#" + w if m else w for w, m in zip(words, marks)), "en"
    if cat == "long_words":
        return " ".join(_junk_words(rng, 30, 18, 19)) + ".", "en"
    if cat == "empty":
        return "", "en"
    raise ValueError(cat)


def _html(text: str, title: str) -> bytes:
    esc = lambda s: s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    body = "".join(f"<p>{esc(p)}</p>" for p in text.split("\n\n")) if text else ""
    return f"<html><head><title>{esc(title)}</title></head><body>{body}</body></html>".encode()


def _exact_roles(rng: np.random.Generator, n: int, shares) -> np.ndarray:
    """Role index per row with exactly round(share * n) rows of each role
    after the first (the remainder goes to role 0), shuffled, with row 0
    always role 0 so that roles copying an earlier row have one."""
    counts = [int(round(sh * n)) for sh in shares[1:]]
    roles = np.zeros(n, np.int64)
    roles[1:1 + sum(counts)] = np.repeat(np.arange(1, len(shares)), counts)
    roles[1:] = rng.permutation(roles[1:])
    return roles


def pages(seed: int, n: int, n_hosts: int = 64):
    """Page table plus labels (url, expected_keep). Category counts are
    exact, so every seed plants the same number of each defect."""
    rng = _rng(seed, n)
    names = [c[0] for c in PAGE_CATEGORIES]
    cats = _exact_roles(rng, n, [c[1] for c in PAGE_CATEGORIES])
    # Zipf hosts: host0 receives ~40% of pages (the hot key)
    hosts = np.minimum(rng.zipf(1.5, n), n_hosts) - 1
    keep_of = {c[0]: c[2] for c in PAGE_CATEGORIES}
    urls, tss, htmls, texts, langs, expect = [], [], [], [], [], []
    clean: list[str] = []
    for i in range(n):
        cat = names[cats[i]]
        if cat == "duplicate":  # byte copy of an earlier clean page
            text, lang, keep = clean[int(rng.integers(0, len(clean)))], "en", False
        else:
            text, lang = _page_text(_rng(seed, i, 1), cat, i)
            keep = keep_of[cat]
            if cat == "clean_en":
                clean.append(text)
        urls.append(f"https://host{hosts[i]}.example/p/{seed}/{i}")
        tss.append(_BASE_TS + datetime.timedelta(seconds=i))
        htmls.append(_html(text, f"page {i}"))
        texts.append(None if cat == "html_only" else text)
        langs.append(lang)
        expect.append(keep)
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(tss, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    return table, {"url": urls, "expected_keep": expect}


def stations(seed: int, n: int):
    """Constant-density network (the reference's 5000-per-15x25-degree box,
    area grown with n) plus labels. value = 30 - 0.0065*elev + N(0, 0.5).

    Planted (expected flagged): 2% gross errors (+-15..30 degC), 0.5% invalid
    metadata (NaN elev), 0.5% out-of-range values, 0.4% isolated stations
    placed outside the box."""
    rng = _rng(seed, 7, n)
    scale = float(np.sqrt(n / 5000.0))
    lat = 55.0 + rng.random(n) * 15.0 * scale
    lon = 5.0 + rng.random(n) * 25.0 * scale
    elev = rng.random(n) * 1500.0
    value = 30.0 - 0.0065 * elev + rng.normal(0.0, 0.5, n)
    kind = np.zeros(n, np.int8)  # 0 good, 1 gross, 2 meta, 3 range, 4 isolated
    perm = rng.permutation(n)
    k_gross, k_meta, k_range, k_iso = (max(1, int(n * s)) for s in (0.02, 0.005, 0.005, 0.004))
    g = perm[:k_gross]
    kind[g] = 1
    value[g] += rng.choice([-1.0, 1.0], g.size) * rng.uniform(15.0, 30.0, g.size)
    m = perm[k_gross:k_gross + k_meta]
    kind[m] = 2
    elev[m] = np.nan
    r = perm[k_gross + k_meta:k_gross + k_meta + k_range]
    kind[r] = 3
    value[r] = 99.0
    iso = perm[k_gross + k_meta + k_range:k_gross + k_meta + k_range + k_iso]
    kind[iso] = 4
    # isolated: spread along a line far south of the box, >100 km apart
    lat[iso] = 40.0 - np.arange(iso.size) * 1.5
    lon[iso] = -20.0
    table = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "lat": lat, "lon": lon, "elev": elev, "value": value,
    })
    return table, {"planted": (kind != 0).tolist(), "kind": kind.tolist()}


HOT_SHARE, CLONE_SHARE = 0.06, 0.10


def corpus(seed: int, n: int):
    """Documents plus labels.

    * clones: copies of an earlier base doc with ~3% of words replaced
      (char-5 and word-3 Jaccard stay well above 0.5);
    * hot boilerplate: one long shared template with a short unique tail,
      so every band bucket of these docs holds ~HOT_SHARE*n ids and the
      ``max_bucket`` cap fires.
    Labels: clone pairs (base, clone) and the boilerplate id set."""
    rng = _rng(seed, 11, n)
    vocab = np.array(sorted({w for ws in CONTENT.values() for w in ws}
                            | {f"w{k}" for k in range(2000)}))
    boiler = " ".join(vocab[rng.integers(0, len(vocab), 220)])
    roles = _exact_roles(rng, n, [1.0 - HOT_SHARE - CLONE_SHARE, HOT_SHARE, CLONE_SHARE])
    texts, clone_pairs, hot_ids, bases = [], [], [], []
    for i in range(n):
        if roles[i] == 1:
            tail = " ".join(vocab[rng.integers(0, len(vocab), 4)])
            texts.append(f"{boiler} {tail}")
            hot_ids.append(i)
        elif roles[i] == 2:
            b = bases[int(rng.integers(0, len(bases)))]
            words = texts[b].split(" ")
            for k in rng.choice(len(words), max(1, len(words) // 33), replace=False):
                words[k] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
            clone_pairs.append((b, i))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(80, 160)))]))
            bases.append(i)
    table = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                      "text": pa.array(texts, pa.string())})
    return table, {"clone_pairs": clone_pairs, "hot_ids": hot_ids}


def vectors(seed: int, n: int, dim: int):
    """Gaussian vectors plus planted clone pairs (base + noise; cosine about
    0.98; random pairs in 32 dims stay below 0.8)."""
    rng = _rng(seed, 13, n)
    x = rng.normal(size=(n, dim))
    k = n // 20  # 5% clones
    clones = rng.choice(np.arange(n // 2, n), k, replace=False)
    bases = rng.integers(0, n // 2, k)
    x[clones] = x[bases] + rng.normal(scale=0.2, size=(k, dim))
    table = pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                      "embedding": pa.array(list(x.astype(np.float64)),
                                            pa.list_(pa.float64()))})
    return table, {"clone_pairs": sorted(zip(bases.tolist(), clones.tolist()))}


N_FILES = 8  # inputs are split like a real dump, so scans get parallel splits


def cached(cache_dir: str, key: str, make):
    """Write ``make()``'s tables to ``cache_dir/key`` once, each as a
    directory of N_FILES parquet files; return ({name: directory}, labels).
    Generation is excluded from set-up."""
    d = os.path.join(cache_dir, key)
    meta = os.path.join(d, "labels.json")
    if not os.path.exists(meta):
        tables, labels = make()
        tmp = d + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        for name, t in tables.items():
            os.makedirs(os.path.join(tmp, name), exist_ok=True)
            step = -(-t.num_rows // N_FILES)
            for i in range(N_FILES):
                pq.write_table(t.slice(i * step, step),
                               os.path.join(tmp, name, f"part-{i:05d}.parquet"))
        with open(os.path.join(tmp, "labels.json"), "w") as f:
            json.dump(labels, f)
        os.rename(tmp, d)
    with open(meta) as f:
        labels = json.load(f)
    paths = {n: os.path.join(d, n) for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    return paths, labels
