"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy + pyarrow: no Spark, so the inputs exist
before the engine starts and the same ``seed`` always writes the same
bytes.  Two input sets:

* LEXam tables (``serve``): ``questions``, ``variants``,
  ``answers`` and ``judgments`` in the full ``model.py`` schemas,
  including the 3-valued ``none_as_an_option`` / ``negative_question`` /
  ``international`` flags.  One parquet file per table; the serving path
  is driver-bound, so its layout does not matter and one file is what a
  small question bank looks like.
* The curation corpus (``curate``): ``documents`` and ``embeddings`` in
  the fixture schemas, with planted exact and near duplicates (shares in
  :data:`CORPUS`).  ``documents.parquet`` is a directory of
  :data:`DOC_FILES` files of :data:`DOC_ROW_GROUPS` row groups each, so
  the scan has several splits like a real lake table; the fixture's
  single-row-group files would pin every narrow stage to one task.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- vocabulary

_LEGAL = (
    "contract tort liability damages statute court appeal claim party duty "
    "breach remedy consent fraud negligence property lease tenant owner "
    "estate trust heir will guardian custody divorce marriage employer "
    "employee wage dismissal notice union strike tax income assessment "
    "customs tariff treaty sovereignty border asylum refugee visa permit "
    "license zoning planning environment emission permit penalty fine "
    "offence intent defence sentence prison probation evidence witness "
    "judge jury verdict motion hearing procedure jurisdiction arbitration "
    "mediation settlement injunction company shareholder director merger "
    "insolvency creditor debtor pledge mortgage loan bank securities "
    "market competition cartel patent trademark copyright privacy data "
    "consumer warranty sale goods delivery price risk insurance premium "
    "accident health patient doctor consent capacity minor parent school "
    "election parliament canton federal municipal constitution referendum "
    "petition right freedom equality religion speech assembly search "
    "seizure detention warrant police ministry agency regulation decree "
    "ordinance directive norm principle doctrine precedent ruling opinion"
).split()
_EN = ("the", "and", "of", "to", "is")
_DE = ("der", "die", "das", "und", "ist")
_FR = ("le", "la", "les", "et", "est")
#: search terms the serve mix draws from: a spread of match rates
SEARCH_TERMS = ("contract", "court", "tax", "trust", "privacy", "asylum", "merger", "ver", "law", "ion")

_COURSE_BASES = (
    "Contract Law", "Tort Law", "Criminal Law", "Administrative Law",
    "Public International Law", "Constitutional Law", "Tax Law",
    "Family Law", "Inheritance Law", "Property Law", "Company Law",
    "Employment Law", "Competition Law", "Insolvency Law",
    "Environmental Law", "Migration Law", "Procedural Law", "Banking Law",
    "Intellectual Property", "Data Protection",
)
COURSES = tuple(f"{b} {s}" for s in ("I", "II") for b in _COURSE_BASES)
AREAS = ("Private", "Public", "Criminal", "Interdisciplinary")
JURISDICTIONS = ("Swiss", "International", "Generic")
CONFIGS = ("mcq_4_choices", "mcq_8_choices", "mcq_16_choices", "mcq_32_choices", "open_question")
JUDGES = ("judge-x", "judge-y")

#: LEXam table sizes.  Each experiment answers a random half of the
#: variants twice (runs 0 and 1); open answers get one judgment per judge.
LEXAM = {
    "questions": 3000,
    "max_variants": 3,
    "experiments": 3,
}

#: Curate corpus.  Exact copies: a later doc repeats an earlier doc's
#: text verbatim (the exact-dedup stage must drop it).  Near copies: an
#: earlier doc with ``near_edits`` words replaced, word Jaccard of
#: 3-shingles well above the 0.5 near-dup threshold (the MinHash stage
#: should drop it).  ``fr_share`` docs fail the lang filter and
#: ``short_share`` docs fail the quality gate, so every gate rejects rows.
CORPUS = {
    "docs": 4000,
    "exact_share": 0.10,
    "near_share": 0.10,
    "near_edits": 1,
    "fr_share": 0.05,
    "short_share": 0.05,
    "embeddings": 1000,
    "emb_near_share": 0.05,
    "dim": 64,
}
DOC_FILES = 8
DOC_ROW_GROUPS = 2
EMB_FILES = 4

_TS0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
_US = pa.timestamp("us", tz="UTC")

QUESTIONS_ARROW = pa.schema([
    ("id", pa.string()), ("question", pa.string()), ("course", pa.string()),
    ("language", pa.string()), ("area", pa.string()), ("jurisdiction", pa.string()),
    ("year", pa.int32()), ("n_statements", pa.int32()), ("none_as_an_option", pa.bool_()),
    ("negative_question", pa.bool_()), ("international", pa.bool_()),
])
VARIANTS_ARROW = pa.schema([
    ("id", pa.int64()), ("question_id", pa.string()), ("config", pa.string()),
    ("split", pa.string()), ("choices", pa.list_(pa.string())), ("gold", pa.int32()),
    ("answer", pa.string()),
])
ANSWERS_ARROW = pa.schema([
    ("id", pa.int64()), ("experiment_id", pa.int64()), ("variant_id", pa.int64()),
    ("run_index", pa.int32()), ("model_name", pa.string()), ("answer_text", pa.string()),
    ("extracted_letter", pa.string()), ("mcq_correct", pa.bool_()),
    ("input_tokens", pa.int32()), ("output_tokens", pa.int32()), ("error", pa.string()),
    ("created_at", _US),
])
JUDGMENTS_ARROW = pa.schema([
    ("id", pa.int64()), ("answer_id", pa.int64()), ("judge_model", pa.string()),
    ("judgment_text", pa.string()), ("score", pa.float64()), ("input_tokens", pa.int32()),
    ("output_tokens", pa.int32()), ("error", pa.string()), ("created_at", _US),
])
DOCUMENTS_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMBEDDINGS_ARROW = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input set, so resizing one set leaves
    the others byte-identical for the same seed."""
    salt = int(hashlib.md5(stream.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, salt])


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _words(rng: np.random.Generator, n: int, markers: tuple[str, ...]) -> list[str]:
    """``n`` Zipf-ranked legal words with one language marker per ~6."""
    vocab_p = _zipf_probs(len(_LEGAL), 0.8)
    idx = rng.choice(len(_LEGAL), size=n, p=vocab_p)
    out = [_LEGAL[i] for i in idx]
    for pos in range(0, n, 6):
        out[pos] = markers[int(rng.integers(len(markers)))]
    return out


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


def _write_split(table: pa.Table, dir_path: str, files: int, row_groups: int) -> None:
    os.makedirs(dir_path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // row_groups))
        _write(part, os.path.join(dir_path, f"part-{i:05d}.parquet"), rg)


# ---------------------------------------------------------------- LEXam


def lexam_tables(seed: int) -> dict[str, pa.Table]:
    """questions, variants, answers and judgments as Arrow tables."""
    rng = _rng(seed, "lexam")
    nq = LEXAM["questions"]
    course_p = _zipf_probs(len(COURSES))
    q = {f.name: [] for f in QUESTIONS_ARROW}

    def tri(p_null: float, p_true: float):
        u = rng.random()
        return None if u < p_null else bool(u < p_null + (1 - p_null) * p_true)

    for i in range(nq):
        course = COURSES[int(rng.choice(len(COURSES), p=course_p))]
        lang = "de" if rng.random() < 0.55 else "en"
        words = _words(rng, int(rng.integers(12, 40)), _DE if lang == "de" else _EN)
        q["id"].append(f"q{i:06d}")
        q["question"].append(" ".join(words))
        q["course"].append(course)
        q["language"].append(lang)
        q["area"].append(AREAS[COURSES.index(course) % len(AREAS)])
        q["jurisdiction"].append(JURISDICTIONS[int(rng.integers(3))])
        q["year"].append(int(rng.integers(2000, 2024)))
        q["n_statements"].append(None if rng.random() < 0.4 else int(rng.choice([4, 5, 6, 8])))
        q["none_as_an_option"].append(tri(0.3, 0.3))
        q["negative_question"].append(tri(0.3, 0.2))
        q["international"].append(tri(0.2, 0.25))
    questions = pa.table(q, schema=QUESTIONS_ARROW)

    v = {f.name: [] for f in VARIANTS_ARROW}
    vid = 0
    for i in range(nq):
        configs = rng.choice(len(CONFIGS), size=int(rng.integers(1, LEXAM["max_variants"] + 1)), replace=False)
        for c in sorted(configs):
            vid += 1
            config = CONFIGS[int(c)]
            v["id"].append(vid)
            v["question_id"].append(f"q{i:06d}")
            v["config"].append(config)
            v["split"].append("dev" if rng.random() < 0.3 else "test")
            if config == "open_question":
                v["choices"].append(None)
                v["gold"].append(None)
                v["answer"].append(" ".join(_words(rng, int(rng.integers(5, 60)), _EN)))
            else:
                n = int(config.split("_")[1])
                v["choices"].append([f"option {k} " + _LEGAL[int(rng.integers(len(_LEGAL)))] for k in range(n)])
                v["gold"].append(int(rng.integers(n)))
                v["answer"].append(None)
    variants = pa.table(v, schema=VARIANTS_ARROW)

    # answers: every experiment answers a random half of the variants, 2 runs
    a = {f.name: [] for f in ANSWERS_ARROW}
    j = {f.name: [] for f in JUDGMENTS_ARROW}
    gold = variants.column("gold").to_pylist()
    n_v = variants.num_rows
    aid = jid = 0
    for e in range(1, LEXAM["experiments"] + 1):
        picked = np.sort(rng.choice(n_v, size=n_v // 2, replace=False))
        for vi in picked:
            for r in range(2):
                aid += 1
                g = gold[vi]
                err = "timeout" if rng.random() < 0.03 else None
                letter = None
                if g is not None and err is None and rng.random() < 0.9:
                    letter = chr(65 + int(rng.integers(4)))
                a["id"].append(aid)
                a["experiment_id"].append(e)
                a["variant_id"].append(int(vi) + 1)
                a["run_index"].append(r)
                a["model_name"].append("model-a" if r == 0 else "model-b")
                a["answer_text"].append(None if err else f"answer {aid}")
                a["extracted_letter"].append(letter)
                a["mcq_correct"].append(None if letter is None else (ord(letter) - 65 == g))
                a["input_tokens"].append(None if rng.random() < 0.05 else int(rng.integers(50, 400)))
                a["output_tokens"].append(int(rng.integers(5, 300)))
                a["error"].append(err)
                a["created_at"].append(_TS0)
                if letter is None and err is None:
                    for judge in JUDGES:
                        jid += 1
                        score = None if rng.random() < 0.05 else int(rng.integers(33)) / 32.0
                        j["id"].append(jid)
                        j["answer_id"].append(aid)
                        j["judge_model"].append(judge)
                        j["judgment_text"].append(f"[[{score}]]")
                        j["score"].append(score)
                        j["input_tokens"].append(int(rng.integers(50, 500)))
                        j["output_tokens"].append(int(rng.integers(5, 50)))
                        j["error"].append(None)
                        j["created_at"].append(_TS0)
    return {
        "questions": questions,
        "variants": variants,
        "answers": pa.table(a, schema=ANSWERS_ARROW),
        "judgments": pa.table(j, schema=JUDGMENTS_ARROW),
    }


def write_lexam(seed: int, out_dir: str) -> dict:
    """Write the LEXam tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = lexam_tables(seed)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"rows": {k: t.num_rows for k, t in tables.items()}}


# ---------------------------------------------------------------- documents


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict[int, tuple[str, int]]]:
    """Documents with planted copies; ``planted`` maps a copy's doc_id
    to (kind, original doc_id).  Originals always precede their copies."""
    pool: list[tuple[int, str, str]] = []
    cols = {f.name: [] for f in DOCUMENTS_ARROW}
    planted: dict[int, tuple[str, int]] = {}
    exact, near = CORPUS["exact_share"], CORPUS["near_share"]
    for doc_id in range(n):
        u = rng.random()
        if pool and u < exact + near:
            orig_id, orig_text, lang = pool[int(rng.integers(len(pool)))]
            words = orig_text.split()
            if u < exact:
                planted[doc_id] = ("exact", orig_id)
            else:
                for _ in range(CORPUS["near_edits"]):
                    words[int(rng.integers(len(words)))] = _LEGAL[int(rng.integers(len(_LEGAL)))]
                planted[doc_id] = ("near", orig_id)
            text = " ".join(words)
        else:
            v = rng.random()
            if v < CORPUS["fr_share"]:
                lang, markers = "fr", _FR
            elif v < 0.55:
                lang, markers = "en", _EN
            else:
                lang, markers = "de", _DE
            short = rng.random() < CORPUS["short_share"]
            n_words = int(rng.integers(8, 20)) if short else int(rng.integers(30, 75))
            text = " ".join(_words(rng, n_words, markers))
            pool.append((doc_id, text, lang))
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(lang)
        cols["source"].append(f"src{int(rng.integers(8))}")
        cols["n_chars"].append(len(text))
    return pa.table(cols, schema=DOCUMENTS_ARROW), planted


def _embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict[int, int]]:
    dim = CORPUS["dim"]
    base = rng.standard_normal((n, dim)).astype(np.float32) * 0.1
    planted: dict[int, int] = {}
    for i in range(1, n):
        if rng.random() < CORPUS["emb_near_share"]:
            j = int(rng.integers(i))
            base[i] = base[j] + rng.standard_normal(dim).astype(np.float32) * 0.01
            planted[i] = j
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(base), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        },
        schema=EMBEDDINGS_ARROW,
    )
    return table, planted


def write_corpus(seed: int, out_dir: str) -> dict:
    """Write ``documents.parquet/`` and ``embeddings.parquet/`` (fixture
    schemas, multi-file) and return the planted duplicates."""
    rng = _rng(seed, "corpus")
    docs, planted = _documents(rng, CORPUS["docs"])
    _write_split(docs, os.path.join(out_dir, "documents.parquet"), DOC_FILES, DOC_ROW_GROUPS)
    emb, emb_planted = _embeddings(rng, CORPUS["embeddings"])
    _write_split(emb, os.path.join(out_dir, "embeddings.parquet"), EMB_FILES, 1)
    return {
        "docs": docs.num_rows,
        "planted": planted,
        "emb_planted": emb_planted,
        "texts": dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())),
    }
