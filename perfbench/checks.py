"""Planted-truth checks on what each op wrote.

  survey_segmentation  every algorithm returns k >= 2 with non-empty deliver
                       stats; rules-based labels equal the rule column.
  corpus_curation      no two survivors share normalised text; no planted
                       contaminated doc survives.
  analytics_mix        each query's output digest equals the one recorded for
                       the fixed tables, so it is the same in every pass.

Each failure names its (pass, op); the caller counts those ops as failed.
"""

import json
import os
import re
import unicodedata

import pyarrow.parquet as pq

SURVEY_ALGOS = ["kmeans", "kmodes", "lca", "rules_based"]


def _read_json_lines(directory):
    rows = []
    for f in sorted(os.listdir(directory)):
        if f.startswith(("part-",)) and f.endswith(".json"):
            with open(os.path.join(directory, f)) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
    return rows


def _load(path):
    with open(path) as f:
        return json.load(f)


# -- survey ----------------------------------------------------------------------

def check_survey_op(op_dir, truth, survey_table):
    """Problems with one survey op's written results, or []."""
    problems = []
    for algo in SURVEY_ALGOS:
        d = os.path.join(op_dir, algo)
        if not os.path.isdir(d):
            problems.append(f"{algo}: no result written")
            continue
        m = {r["metric"]: r["value"]
             for r in _read_json_lines(os.path.join(d, "metrics"))}
        if not (m.get("n_clusters") or 0) >= 2:
            problems.append(f"{algo}: k = {m.get('n_clusters')} < 2")
        if not (m.get("n_significant") or 0) > 0:
            problems.append(f"{algo}: empty deliver stats")
    d = os.path.join(op_dir, "rules_based", "labels")
    if os.path.isdir(d):
        labels = pq.read_table(d).to_pydict()
        rule = dict(zip(survey_table[truth["id_col"]],
                        survey_table[truth["rule_col"]]))
        levels = sorted(set(rule.values()))
        got = dict(zip(labels[truth["id_col"]], labels["cluster"]))
        if set(got) != set(rule):
            problems.append("rules_based: labelled ids differ from the survey")
        wrong = sum(1 for i, c in got.items()
                    if i in rule and c != levels.index(rule[i]))
        if wrong:
            problems.append(f"rules_based: {wrong} labels differ from the rule column")
    return problems


def check_survey(inputs, work, res):
    failures = []
    cache = {}
    for p in res["passes"]:
        for i, op in enumerate(p["ops"]):
            if not op["ok"]:
                continue
            name = op["name"]
            if name not in cache:
                cache[name] = (
                    _load(os.path.join(inputs, f"{name}.truth.json")),
                    pq.read_table(os.path.join(inputs, f"{name}.parquet")).to_pydict())
            truth, table = cache[name]
            op_dir = os.path.join(work, "out", f"pass_{p['index']}", name)
            for why in check_survey_op(op_dir, truth, table):
                failures.append({"pass": p["index"], "op": i, "why": f"{name}: {why}"})
    return failures


# -- corpus ----------------------------------------------------------------------

_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")
_NON_KEY = re.compile(r"[^a-z0-9 ]")


def normalise(text):
    """The engine's exact-dedup key text: NFC, control and format characters
    to spaces, whitespace collapsed and trimmed, lower-cased, everything but
    [a-z0-9 ] removed."""
    t = "".join(" " if unicodedata.category(c) in ("Cc", "Cf") else c
                for c in unicodedata.normalize("NFC", text))
    t = _SPACE.sub(" ", t).strip()
    return _NON_KEY.sub("", t.lower())


def check_corpus_op(survivors, texts, contaminated):
    """Problems with one batch's survivor ids, or []."""
    problems = []
    if not survivors:
        problems.append("no survivors")
    unknown = [i for i in survivors if i not in texts]
    if unknown:
        problems.append(f"{len(unknown)} survivor ids not in the batch")
    seen = {}
    for i in survivors:
        if i in texts:
            seen.setdefault(normalise(texts[i]), []).append(i)
    dups = [ids for ids in seen.values() if len(ids) > 1]
    if dups:
        problems.append(f"{len(dups)} normalised texts survive more than once, "
                        f"e.g. {sorted(dups[0])[:3]}")
    leaked = sorted(set(survivors) & set(contaminated))
    if leaked:
        problems.append(f"{len(leaked)} contaminated docs survive, e.g. {leaked[:3]}")
    if len(set(survivors)) != len(survivors):
        problems.append("a survivor id repeats")
    return problems


def check_corpus(inputs, work, res):
    failures = []
    cache = {}
    for p in res["passes"]:
        for i, op in enumerate(p["ops"]):
            if not op["ok"]:
                continue
            b = op["name"]
            if b not in cache:
                t = pq.read_table(os.path.join(inputs, f"{b}.parquet")).to_pydict()
                cache[b] = (dict(zip(t["doc_id"], t["text"])),
                            _load(os.path.join(inputs, f"{b}.truth.json"))["contaminated"])
            texts, contaminated = cache[b]
            d = os.path.join(work, "out", f"pass_{p['index']}", b)
            survivors = pq.read_table(d).column("doc_id").to_pylist() \
                if os.path.isdir(d) else []
            for why in check_corpus_op(survivors, texts, contaminated):
                failures.append({"pass": p["index"], "op": i, "why": f"{b}: {why}"})
    return failures


# -- analytics ---------------------------------------------------------------------

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "digests.json")


def check_analytics(inputs, work, res, expected=None):
    """Every query's output digest equals the one recorded for the fixed
    tables (data/digests.json), so it is also the same in every pass."""
    if expected is None:
        expected = _load(DIGESTS)
    failures = []
    for p in res["passes"]:
        for i, op in enumerate(p["ops"]):
            if not op["ok"]:
                continue
            d = op.get("digest") or ""
            want = expected.get(op["name"])
            if d != want:
                failures.append({"pass": p["index"], "op": i,
                                 "why": f"{op['name']}: digest {d} != recorded {want}"})
    return failures


CHECKS = {
    "survey_segmentation": check_survey,
    "corpus_curation": check_corpus,
    "analytics_mix": check_analytics,
}


def check(workload, inputs, work, res):
    return CHECKS[workload](inputs, work, res)
