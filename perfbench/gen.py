"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical parquet files and planted-truth JSON. The engine only ever
sees the files written here; the planted truth stays with the benchmark's
checker.

  survey_segmentation  surveys shaped like FIXTURES.md section 1, with
                       planted latent segments, a rules column, NA cells,
                       `_time`/`_numeric`/`_tgt`/`psy`/`ae`/`mc_` columns and
                       a weight column, plus the work-queue document.
  corpus_curation      document batches of Zipf text over a ~20k-word
                       vocabulary with planted exact duplicates, edited
                       near-duplicates and docs that share a 5-gram with a
                       held-out benchmark set.
  analytics_mix        a seeded order over a fixed registered-query list.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Starting sizes. The README explains how they were chosen.
SURVEYS = 1
RESPONDENTS = 600
SURVEY_QUESTIONS = 12
SEGMENTS = 3

CORPUS_BATCHES = 3
DOCS_PER_BATCH = 600
BENCH_DOCS = 40
VOCAB = 20000
EXACT_DUP_FRAC = 0.05
NEAR_DUP_FRAC = 0.05
CONTAMINATED_FRAC = 0.03

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def _rng(seed, stream):
    """Independent generator per (seed, stream) so adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([int(seed), stream])


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


# -- survey_segmentation -----------------------------------------------------

RULE_COL = "tech_ww_techcomfort_rb_ord"
RULE_LEVELS = ["1_low", "2_mid", "3_high"]
ID_COL = "alchemer_id"


def _question_names(n):
    topics = ["brand", "price", "habit", "media", "travel", "food", "sport",
              "music", "money", "work", "family", "health"]
    return [f"att_uk_{topics[j % len(topics)]}{j // len(topics)}_{5000 + j}"
            for j in range(n)]


def survey_columns(n_questions=SURVEY_QUESTIONS):
    """Cluster columns of a generated survey, by their cleaned names."""
    return _question_names(n_questions)[:8]


def _categorical(rng, seg, levels, strength):
    """Per-respondent draw from `levels`: segment s prefers level
    (s + offset) mod m with probability `strength`, the rest is uniform."""
    n = seg.shape[0]
    m = len(levels)
    offset = int(rng.integers(0, m))
    pref = (seg + offset) % m
    other = rng.integers(0, m, size=n)
    pick = np.where(rng.random(n) < strength, pref, other)
    return np.asarray(levels, dtype=object)[pick]


def _with_na(rng, values, na_frac, not_shown_frac=0.0):
    values = values.copy()
    u = rng.random(values.shape[0])
    values[u < na_frac] = None
    if not_shown_frac:
        values[(u >= na_frac) & (u < na_frac + not_shown_frac)] = "Not shown"
    return values


def make_survey(seed, index, respondents=RESPONDENTS,
                n_questions=SURVEY_QUESTIONS):
    """One survey frame plus its planted truth."""
    rng = _rng(seed, 100 + index)
    n = respondents
    seg = rng.choice(SEGMENTS, size=n, p=[0.4, 0.35, 0.25])
    cols = {}
    ids = 100000 * (index + 1) + np.arange(n, dtype=np.int64)
    cols[ID_COL] = pa.array(ids, pa.int64())
    cols["cint_id"] = pa.array([f"c{int(i):07d}" for i in ids], pa.string())
    cols["weight"] = pa.array(np.round(0.5 + rng.random(n), 4), pa.float64())
    cols["qudo_weight_gen"] = pa.array(np.round(0.8 + 0.4 * rng.random(n), 4),
                                       pa.float64())
    cols["qudo_gender_segmentation"] = pa.array(
        list(_categorical(rng, seg, ["female", "male", "other"], 0.3)),
        pa.string())
    # the rules column follows the planted segment with noise and has no NA
    # cells, so rules-based labels are a pure function of it
    cols[RULE_COL] = pa.array(list(_categorical(rng, seg, RULE_LEVELS, 0.8)),
                              pa.string())
    cols["sbeh_uk_socialmedia_mc_1234_fb"] = pa.array(list(_with_na(
        rng, _categorical(rng, seg, ["facebook", "not selected"], 0.6), 0.05)),
        pa.string())
    cols["life_uk_interests_gg_2345"] = pa.array(list(_with_na(
        rng, _categorical(rng, seg, ["gaming", "cooking", "outdoors",
                                     "reading"], 0.55), 0.03)), pa.string())
    agree = ["strongly agree", "agree", "neutral", "disagree",
             "strongly disagree"]
    cols["psy_uk_outlook_3456_tgt"] = pa.array(list(_with_na(
        rng, _categorical(rng, seg, agree, 0.6), 0.03)), pa.string())
    cols["ae_uk_creative_4567_tgt"] = pa.array(list(_with_na(
        rng, _categorical(rng, seg, ["painter", "writer", "maker", "none"],
                          0.5), 0.03)), pa.string())
    age = np.round(18 + 10 * seg + rng.normal(12, 6, size=n), 1)
    age = np.where(rng.random(n) < 0.04, np.nan, age)
    cols["demo_uk_age_numeric"] = pa.array(age, pa.float64(),
                                           from_pandas=True)
    cols["q_time_page1"] = pa.array(np.round(rng.gamma(2.0, 20.0, n), 2),
                                    pa.float64())
    cols["q_time_page2"] = pa.array(np.round(rng.gamma(2.0, 15.0, n), 2),
                                    pa.float64())
    for j, name in enumerate(_question_names(n_questions)):
        m = 3 + j % 4
        levels = [f"opt{c}" for c in range(m)]
        strength = 0.7 if j < 8 else 0.35
        vals = _with_na(rng, _categorical(rng, seg, levels, strength), 0.03,
                        0.02 if j % 3 == 0 else 0.0)
        cols[name] = pa.array(list(vals), pa.string())
    # multi-select siblings sharing one question id
    for opt in ["tv", "radio", "web"]:
        cols[f"sbeh_uk_channels_6001_{opt}"] = pa.array(list(_categorical(
            rng, seg, ["selected", "not selected"], 0.5)), pa.string())
    table = pa.table(cols)
    truth = {
        "id_col": ID_COL,
        "rule_col": RULE_COL,
        "rule_levels": RULE_LEVELS,
        "segments": [int(s) for s in seg],
        "respondents": n,
        "columns": len(cols),
    }
    return table, truth


def write_survey_inputs(seed, out_dir, surveys=SURVEYS,
                        respondents=RESPONDENTS, n_questions=SURVEY_QUESTIONS):
    os.makedirs(out_dir, exist_ok=True)
    items = []
    for i in range(surveys):
        table, truth = make_survey(seed, i, respondents, n_questions)
        name = f"survey_{i}"
        _write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
        _write_json(truth, os.path.join(out_dir, f"{name}.truth.json"))
        items.append({"id": 1000 + i, "title": name, "processed_by": []})
    # one survey another engine already processed: the queue must skip it
    items.append({"id": 999, "title": "already_done",
                  "processed_by": ["kraken", "graft"]})
    _write_json(items, os.path.join(out_dir, "queue.json"))
    _write_json({"workload": "survey_segmentation", "seed": int(seed),
                 "surveys": surveys, "respondents": respondents,
                 "questions": n_questions,
                 "cluster_cols": survey_columns(n_questions)},
                os.path.join(out_dir, "manifest.json"))


# -- corpus_curation ---------------------------------------------------------

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "cr", "dr", "fl", "gr", "pl",
           "pr", "sh", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st"]


def vocabulary(size=VOCAB):
    """Deterministic pseudo-words; no stopword appears among them."""
    words = []
    seen = set(STOPWORDS)
    i = 0
    while len(words) < size:
        x = i
        parts = []
        for _ in range(1 + (i % 3)):
            parts.append(_ONSETS[x % len(_ONSETS)] + _VOWELS[(x // 7) % len(_VOWELS)]
                         + _CODAS[(x // 11) % len(_CODAS)])
            x //= 13
        w = "".join(parts) + (str(i // 5000) if i >= 5000 else "")
        if w not in seen:
            seen.add(w)
            words.append(w)
        i += 1
    return words


def _zipf_doc(rng, words, probs, length):
    toks = rng.choice(len(words), size=length, p=probs)
    out = [words[t] for t in toks]
    # ~25% stopwords so the quality score has a spread
    stop = rng.random(length) < 0.25
    for k in np.nonzero(stop)[0]:
        out[k] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return out


def _exact_variant(rng, toks):
    """Same normalised text: case, punctuation and spacing changes only."""
    out = []
    for t in toks:
        u = rng.random()
        if u < 0.15:
            t = t.capitalize()
        elif u < 0.22:
            t = t + ","
        out.append(t)
    return "  ".join(out[:3]) + " " + " ".join(out[3:]) + "!"


def _near_variant(rng, toks, words):
    """Edited near-duplicate: a few substituted words in a long doc."""
    toks = list(toks)
    for _ in range(max(1, len(toks) // 40)):
        k = int(rng.integers(0, len(toks)))
        toks[k] = words[int(rng.integers(0, len(words)))]
    return " ".join(toks)


def make_corpus_batch(seed, index, words, probs, bench_toks,
                      docs=DOCS_PER_BATCH):
    rng = _rng(seed, 200 + index)
    n_exact = int(docs * EXACT_DUP_FRAC)
    n_near = int(docs * NEAR_DUP_FRAC)
    n_cont = int(docs * CONTAMINATED_FRAC)
    n_base = docs - n_exact - n_near - n_cont
    base_id = 1_000_000 * (index + 1)
    texts, kinds, origin = [], [], []
    base_toks = []
    for i in range(n_base):
        toks = _zipf_doc(rng, words, probs, int(rng.integers(40, 160)))
        base_toks.append(toks)
        texts.append(" ".join(toks) if i % 17 else " ".join(toks) + "\t")
        kinds.append("base")
        origin.append(-1)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(_exact_variant(rng, base_toks[src]))
        kinds.append("exact_dup")
        origin.append(src)
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        texts.append(_near_variant(rng, base_toks[src], words))
        kinds.append("near_dup")
        origin.append(src)
    for _ in range(n_cont):
        toks = _zipf_doc(rng, words, probs, int(rng.integers(40, 160)))
        b = bench_toks[int(rng.integers(0, len(bench_toks)))]
        start = int(rng.integers(0, len(b) - 8))
        pos = int(rng.integers(0, len(toks)))
        toks[pos:pos] = b[start:start + 8]
        texts.append(" ".join(toks))
        kinds.append("contaminated")
        origin.append(-1)
    order = rng.permutation(docs)
    ids = [base_id + int(k) for k in range(docs)]
    texts = [texts[k] for k in order]
    kinds = [kinds[k] for k in order]
    # origin indexes base docs by generation order; map them to doc ids
    base_pos = {int(g): r for r, g in enumerate(order) if int(g) < n_base}
    origin = [ids[base_pos[origin[k]]] if origin[k] >= 0 else None
              for k in order]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array([f"src{int(rng.integers(0, 5))}" for _ in ids],
                           pa.string()),
    })
    truth = {
        "contaminated": [i for i, k in zip(ids, kinds) if k == "contaminated"],
        "exact_dup_of": {str(i): o for i, k, o in zip(ids, kinds, origin)
                         if k == "exact_dup"},
        "near_dup_of": {str(i): o for i, k, o in zip(ids, kinds, origin)
                        if k == "near_dup"},
        "docs": docs,
    }
    return table, truth


def write_corpus_inputs(seed, out_dir, batches=CORPUS_BATCHES,
                        docs=DOCS_PER_BATCH):
    os.makedirs(out_dir, exist_ok=True)
    words = vocabulary()
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    probs = 1.0 / ranks ** 1.07
    probs /= probs.sum()
    rng = _rng(seed, 300)
    bench_toks = [_zipf_doc(rng, words, probs, int(rng.integers(30, 80)))
                  for _ in range(BENCH_DOCS)]
    _write_parquet(pa.table({
        "bench_id": pa.array(range(BENCH_DOCS), pa.int64()),
        "text": pa.array([" ".join(t) for t in bench_toks], pa.string()),
    }), os.path.join(out_dir, "bench.parquet"))
    for i in range(batches):
        table, truth = make_corpus_batch(seed, i, words, probs, bench_toks,
                                         docs)
        _write_parquet(table, os.path.join(out_dir, f"batch_{i}.parquet"))
        _write_json(truth, os.path.join(out_dir, f"batch_{i}.truth.json"))
    _write_json({"workload": "corpus_curation", "seed": int(seed),
                 "batches": batches, "docs_per_batch": docs},
                os.path.join(out_dir, "manifest.json"))


# -- analytics_mix -----------------------------------------------------------

# Registered queries the mix runs: the ten etl.GlobalIndex users, then six
# short queries of other modules that do not use GlobalIndex. Warm, most of
# the ten take 1.5-2.6 s and the short ones 0.3-1.0 s, so the count keeps the
# median op inside the slow group: with 10 + 8 it sat on the boundary and
# moved 27% (quartile distance over median) between seeds. q_m25_metrics
# runs graft.metrics code but is registered by cluster.MlQueries. dedup,
# text and pipeline are left to corpus_curation, which runs them at data
# size.
GLOBAL_INDEX_USERS = [
    "q_m52_km", "q_e_embargo_split", "q_m56_auc", "q_m57_gains",
    "q_m78_wasserstein", "q_m53_logrank", "q_m49_bh_fdr", "q_m77_dunn",
    "q_p27_unimax", "q_s_semantic_adaptive",
]
OTHER_QUERIES = [
    "q_e_wow",             # etl
    "q_m74_welch_t",       # stats
    "q_sk_heavy_hitters",  # sketch
    "q_s_jl_project",      # sim
    "q_inf_raking",        # inference
    "q_m25_metrics",       # metrics, registered by cluster
]



def write_analytics_inputs(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    queries = GLOBAL_INDEX_USERS + OTHER_QUERIES
    rng = _rng(seed, 400)
    order = [queries[int(k)] for k in rng.permutation(len(queries))]
    _write_json({"workload": "analytics_mix", "seed": int(seed),
                 "order": order,
                 "global_index_users": GLOBAL_INDEX_USERS},
                os.path.join(out_dir, "manifest.json"))


WRITERS = {
    "survey_segmentation": write_survey_inputs,
    "corpus_curation": write_corpus_inputs,
    "analytics_mix": write_analytics_inputs,
}
