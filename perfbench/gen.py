"""Seeded input generator for the benchmark workloads.

Inputs are made from ``--seed`` alone and written once per (workload, seed)
to a parquet cache, outside any timed region. The program under test only
ever sees the parquet files, the way ``scripts/run_pipeline.py`` reads pages.

Every generator returns a manifest: file paths, planted counts (the
correctness gate compares against them) and the shape parameters that are
reported with each result.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes for a warm-up pass and a timed pass within ~70 s on 4 cores; a pass
# is dominated by per-job overhead, not by input size. See NOTES.md for how
# they were chosen. The shape keys are printed with every result.
SHAPES = {
    "crawl_pages": {
        "persons": 600,
        "overlap": 0.75,
        "dropout": 0.10,
        "pages_per_fact": 1.5,
        "facts_per_page": 30,
        "text_bytes_per_page": 9000,
        "classes": 128,
    },
    "kg_prase_hub": {
        "entities": 600,
        "overlap": 1.0,
        "dropout": 0.10,
        "perturb": 0.05,
        "avg_deg": 4,
        "emb_dim": 32,
        "emb_cos": 0.9,
        "hub_size": 540,
        "type_repeats": 16,
        "cold_classes": 100,
    },
}

RAW = pa.schema(
    [
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("is_attr", pa.bool_()),
    ]
)
PAGES = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLD = pa.schema([("name_l", pa.string()), ("name_r", pa.string())])
EMB = pa.schema([("name", pa.string()), ("embedding", pa.list_(pa.float32()))])


def _mix(seed: int, *parts: int) -> int:
    """Deterministic 31-bit seed for one (seed, parts...) tuple."""
    h = seed & 0xFFFFFFFF
    for p in parts:
        h = (h * 1000003 + p + 0x9E3779B9) & 0xFFFFFFFFFFFF
    return h % (2**31)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _raw_table(rows: list[tuple[str, str, str, bool]]) -> pa.Table:
    s, p, o, a = zip(*rows) if rows else ((), (), (), ())
    return pa.Table.from_arrays(
        [pa.array(s), pa.array(p), pa.array(o), pa.array(a, pa.bool_())], schema=RAW
    )


# --- crawl_pages --------------------------------------------------------------

# Person_k -> Human_k on the right side, and likewise City and Org; class
# names are shared. Entities are (kind, k) keys of one universe.
_NAMES = {
    "L": {"P": "Person_{}", "C": "City_{}", "O": "Org_{}", "K": "Class_{}"},
    "R": {"P": "Human_{}", "C": "Town_{}", "O": "Company_{}", "K": "Class_{}"},
}
_REL_SENT = {
    "bornIn": "{s} was born in {o} .",
    "employer": "{s} works for {o} .",
    "locatedIn": "{s} is located in {o} .",
    "type": "{s} is a {o} .",
}
_WORDS = (
    "the committee quietly reviewed several long reports about regional "
    "water supply and noted that older pipes along the river need repair "
    "before winter while members debated budgets schedules and contractors "
    "for many hours without reaching any final agreement on costs"
).split()


def _filler_pool(rng: random.Random, n: int = 256) -> list[str]:
    """Lowercase, quote-free sentences: no extraction pattern can match."""
    return [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 22)))
        + f" {rng.randrange(10**6)} ."
        for _ in range(n)
    ]


def _crawl_universe(seed: int, shape: dict) -> dict:
    """Universe facts: (kind, k) -> [(pred, obj_key | literal, is_attr)].
    Each entity's facts are fixed, so every page repeats them identically.
    Every entity, classes too, has two unique literals (name and code), so
    the literal seed identifies it unless the right side drops both."""
    n_p = shape["persons"]
    n_cls = shape["classes"]
    counts = {"P": n_p, "O": n_p // 5, "C": n_p // 20, "K": n_cls}
    facts = {}
    for kind, n in counts.items():
        for k in range(n):
            r = random.Random(_mix(seed, ord(kind), k))
            f = [] if kind == "K" else [("type", ("K", r.randrange(n_cls)), False)]
            if kind == "P":
                f.append(("bornIn", ("C", r.randrange(counts["C"])), False))
                f.append(("employer", ("O", r.randrange(counts["O"])), False))
                f.append(("birthyear", str(1900 + r.randrange(120)), True))
            elif kind == "O":
                f.append(("locatedIn", ("C", r.randrange(counts["C"])), False))
            f.append(("name", f"nm-{kind.lower()}{k}-{r.randrange(16**6):06x}", True))
            f.append(("code", f"{kind}{r.randrange(16**8):08x}", True))
            facts[(kind, k)] = f
    return {"facts": facts, "counts": counts}


def _side_range(n: int, side: str, overlap: float) -> range:
    """Left keeps [0, a), right keeps [n - a, n): the right side shares
    ``overlap`` of the left side's persons."""
    a = round(n / (2.0 - overlap))
    return range(0, a) if side == "L" else range(n - a, n)


def _crawl_side(seed: int, shape: dict, uni: dict, side: str):
    names = _NAMES[side]
    rng = random.Random(_mix(seed, ord(side), 17))
    name = lambda key: names[key[0]].format(key[1])  # noqa: E731
    sentences, mentioned = [], set()
    for kind, n in uni["counts"].items():
        # persons overlap; the organisations, cities and classes they point
        # to are described on both sides
        keys = _side_range(n, side, shape["overlap"]) if kind == "P" else range(n)
        for k in keys:
            for pred, obj, is_attr in uni["facts"][(kind, k)]:
                if side == "R" and rng.random() < shape["dropout"]:
                    continue
                s = name((kind, k))
                mentioned.add((kind, k))
                if is_attr:
                    sent = f'{s} \'s {pred} is "{obj}" .'
                else:
                    mentioned.add(obj)
                    sent = _REL_SENT[pred].format(s=s, o=name(obj))
                reps = 2 if rng.random() < shape["pages_per_fact"] - 1.0 else 1
                sentences.extend([sent] * reps)
    rng.shuffle(sentences)
    fpp = shape["facts_per_page"]
    pool = _filler_pool(rng)
    urls, htmls, texts = [], [], []
    for i, start in enumerate(range(0, len(sentences), fpp)):
        parts = sentences[start : start + fpp]
        size = sum(len(p) + 1 for p in parts)
        while size < shape["text_bytes_per_page"]:
            parts.append(rng.choice(pool))
            size += len(parts[-1]) + 1
        rng.shuffle(parts)
        body = " ".join(parts)
        title = f"Page {i}"
        htmls.append(
            f"<html><head><title>{title}</title></head>"
            f"<body><h1>{title}</h1><p>{body}</p></body></html>".encode()
        )
        # html_to_text of the markup above, in closed form
        texts.append(f"{title} {title} {body}")
        urls.append(f"https://{side.lower()}.example.org/page/{i}")
    ts = pa.array(np.full(len(urls), np.datetime64("2024-01-01T00:00:00", "us")))
    table = pa.Table.from_arrays(
        [
            pa.array(urls),
            ts.cast(pa.timestamp("us", tz="UTC")),
            pa.array(htmls, pa.binary()),
            pa.array(texts),
            pa.array(["en"] * len(urls)),
        ],
        schema=PAGES,
    )
    return table, len(sentences), mentioned


def _gen_crawl(seed: int, shape: dict, out: str) -> dict:
    uni = _crawl_universe(seed, shape)
    pages_l, facts_l, ment_l = _crawl_side(seed, shape, uni, "L")
    pages_r, facts_r, ment_r = _crawl_side(seed, shape, uni, "R")
    _write(pages_l, os.path.join(out, "pages_l.parquet"))
    _write(pages_r, os.path.join(out, "pages_r.parquet"))
    both = sorted(ment_l & ment_r)
    gold = [
        (_NAMES["L"][k].format(i), _NAMES["R"][k].format(i)) for k, i in both
    ]
    _write(_gold_table(gold), os.path.join(out, "gold.parquet"))
    return {
        "files": {"pages_l": "pages_l.parquet", "pages_r": "pages_r.parquet"},
        "counts": {
            "pages_l": pages_l.num_rows,
            "pages_r": pages_r.num_rows,
            "facts_l": facts_l,
            "facts_r": facts_r,
            "raw_l": facts_l,
            "gold": len(gold),
            "input_rows": pages_l.num_rows + pages_r.num_rows,
        },
    }


# --- kg_prase_hub --------------------------------------------------------

_KG_NAMES = {
    "L": {
        "ent": "<http://a.org/resource/E{}>",
        "pred": "http://a.org/ontology/p{}",
        "attr": "http://a.org/ontology/attr{}",
        "type": "http://a.org/ontology/type",
    },
    "R": {
        "ent": "http://b.org/entity/Q{}",
        "pred": "http://b.org/prop/direct/P{}",
        "attr": "http://b.org/prop/direct/A{}",
        "type": "http://b.org/prop/direct/P31",
    },
}


def _kg_side(seed: int, shape: dict, side: str) -> list:
    """The ``fixtures.synthetic_kg_distributed`` recipe, seeded: a shared
    per-entity skeleton; the right side renames everything, drops
    ``dropout`` of the relation facts and perturbs ``perturb`` of the
    unique literals. Every entity also gets a type fact whose object is a
    class label literal, ``type_repeats`` times: the first ``hub_size``
    entities share one hot class, the rest spread over ``cold_classes``."""
    nm = _KG_NAMES[side]
    n = shape["entities"]
    rows = []
    for h in range(n):
        skel = random.Random(_mix(seed, h))
        noise = random.Random(_mix(seed, h, 2 if side == "R" else 1))
        h_name = nm["ent"].format(h)
        for _ in range(skel.randint(2, shape["avg_deg"] + 2)):
            t, p = skel.randrange(n), skel.randrange(24)
            if t == h or (side == "R" and noise.random() < shape["dropout"]):
                continue
            rows.append((h_name, nm["pred"].format(p), nm["ent"].format(t), False))
        lit = f"uniq-name-{h:09d}"
        if side == "R" and noise.random() < shape["perturb"]:
            lit += "-PERTURBED"
        rows.append((h_name, nm["attr"].format(0), lit, True))
        date = f"{1900 + h % 120}-{1 + (h // 120) % 12:02d}-{1 + (h // 1440) % 28:02d}"
        rows.append(
            (
                h_name,
                nm["attr"].format(1),
                f'"{date}"^^<http://www.w3.org/2001/XMLSchema#date>',
                True,
            )
        )
        cls = 0 if h < shape["hub_size"] else 1 + skel.randrange(shape["cold_classes"])
        # a type fact repeated the way a crawl repeats it on several pages;
        # the class is a shared literal label, so the literal seed matches
        # it and the first iteration already expands the hot one
        rows.extend([(h_name, nm["type"], f"class-label-{cls}", True)] * shape["type_repeats"])
    return rows


def _embeddings(seed: int, shape: dict) -> tuple[pa.Table, pa.Table]:
    """Unit vectors; each right vector is its left twin plus Gaussian noise
    scaled so the pair's expected cosine is ``emb_cos``."""
    n, d = shape["entities"], shape["emb_dim"]
    rng = np.random.default_rng(_mix(seed, 31))
    left = rng.normal(size=(n, d))
    left /= np.linalg.norm(left, axis=1, keepdims=True)
    sigma = np.sqrt((1.0 / shape["emb_cos"] ** 2 - 1.0) / d)
    right = left + rng.normal(size=(n, d)) * sigma
    right /= np.linalg.norm(right, axis=1, keepdims=True)

    def table(side: str, mat: np.ndarray) -> pa.Table:
        names = [_KG_NAMES[side]["ent"].format(i) for i in range(n)]
        flat = pa.array(mat.astype(np.float32).ravel())
        offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
        return pa.Table.from_arrays(
            [pa.array(names), pa.ListArray.from_arrays(offsets, flat)], schema=EMB
        )

    return table("L", left), table("R", right)


def _gold_table(pairs: list[tuple[str, str]]) -> pa.Table:
    l, r = zip(*pairs) if pairs else ((), ())
    return pa.Table.from_arrays([pa.array(l), pa.array(r)], schema=GOLD)


def _gen_kg(seed: int, shape: dict, out: str) -> dict:
    raw_l = _kg_side(seed, shape, "L")
    raw_r = _kg_side(seed, shape, "R")
    _write(_raw_table(raw_l), os.path.join(out, "raw_l.parquet"))
    _write(_raw_table(raw_r), os.path.join(out, "raw_r.parquet"))
    n = shape["entities"]
    gold = [(_KG_NAMES["L"]["ent"].format(i), _KG_NAMES["R"]["ent"].format(i)) for i in range(n)]
    _write(_gold_table(gold), os.path.join(out, "gold.parquet"))
    emb_l, emb_r = _embeddings(seed, shape)
    _write(emb_l, os.path.join(out, "emb_l.parquet"))
    _write(emb_r, os.path.join(out, "emb_r.parquet"))
    return {
        "files": {
            "raw_l": "raw_l.parquet",
            "raw_r": "raw_r.parquet",
            "emb_l": "emb_l.parquet",
            "emb_r": "emb_r.parquet",
        },
        "counts": {
            "raw_l": len(raw_l),
            "raw_r": len(raw_r),
            "gold": len(gold),
            "input_rows": len(raw_l) + len(raw_r),
        },
    }


def generate(workload: str, seed: int, cache_root: str) -> dict:
    """Return the manifest of (workload, seed, shape), generating it on a
    miss. A finished entry is published by renaming its directory, so a
    killed run never leaves a partial entry behind."""
    if workload not in SHAPES:
        raise ValueError(f"unknown workload {workload!r}; choose from {sorted(SHAPES)}")
    shape = SHAPES[workload]
    digest = hashlib.sha1(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:10]
    final = os.path.join(cache_root, f"{workload}-{seed}-{digest}")
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf8") as f:
            return _absolute(json.load(f), final)
    _evict(cache_root)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "crawl_pages":
        manifest = _gen_crawl(seed, shape, tmp)
    else:
        manifest = _gen_kg(seed, shape, tmp)
    manifest.update(workload=workload, seed=seed, shape=shape)
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf8") as f:
        json.dump(manifest, f)
    os.rename(tmp, final)
    return _absolute(manifest, final)


def _absolute(manifest: dict, root: str) -> dict:
    manifest["files"] = {k: os.path.join(root, v) for k, v in manifest["files"].items()}
    manifest["files"]["gold"] = os.path.join(root, "gold.parquet")
    return manifest


def _evict(cache_root: str, keep: int = 3) -> None:
    """Make room for one more entry: keep the ``keep`` newest ones."""
    entries = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for path in entries[: max(0, len(entries) - keep)]:
        shutil.rmtree(path, ignore_errors=True)
