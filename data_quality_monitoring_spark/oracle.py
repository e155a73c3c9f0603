"""Pure-Python reference labeler — the F1 / scrub-parity oracle.

An independent (pandas-free-of-Spark) implementation of the full detection
semantics: rule first-hit (reference ``validators/json_validator.py:66-284``),
pattern detector (``pattern_based_detector.py:204-252``), langid + perplexity
scoring, threshold filtering, priority combination
(``comprehensive_detector.py:503-613``) and the scrub chain.  The Spark
pipeline in ``plans/pipeline.py`` must reproduce this labeler's keep/drop at
F1 ≥ 0.99 and its ``text_scrubbed`` byte-identically — that is the
``BASELINE.json`` acceptance gate, tested in ``tests/test_oracle_parity.py``.

Rule/pattern/verdict/scrub logic here is written from the spec with plain
Python — NOT by calling the Spark compiler — so the parity test is a real
two-implementation check.  The model scorers (langid, bigram LM) share the
artifact objects with the Spark UDFs: for model slots, "the reference label"
IS the model's deterministic output.
"""

from __future__ import annotations

import math
import re

import pandas as pd

from .artifacts import get_bigram_models, get_langid_model
from .operators.scrub import scrub_str
from .operators.verdict import DEFAULT_THRESHOLDS

_WS_RE = re.compile(r"[ \t\n\r\f\v]")
_NON_ALNUM_RE = re.compile(r"[^0-9A-Za-z \t\n\r\f\v]")
_DIGIT_RE = re.compile(r"[0-9]")


def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def rule_first_hit(value, rules: list[dict]) -> dict | None:
    """First failing rule (reference json_validator.py:66-72 semantics)."""
    for rule in rules:
        rt = rule["type"]
        if rt == "missing":
            if _is_missing(value):
                return _f(rule)
            continue
        if _is_missing(value):
            continue  # null skip, reference :89-91
        v = str(value)
        fired = False
        if rt == "empty_string":
            fired = v == ""
        elif rt == "whitespace":
            fired = v != v.strip(" \t\n\r\f\v")
        elif rt == "min_length":
            fired = len(v) < int(rule["min_length"])
        elif rt == "max_length":
            fired = len(v) > int(rule["max_length"])
        elif rt == "regex":
            flags = re.IGNORECASE if rule.get("case_insensitive") else 0
            fired = re.search(rule["pattern"], v, flags) is not None
            if fired and any(re.match(ex, v, flags) for ex in rule.get("exclude_patterns", [])):
                fired = False
        elif rt == "regex_multiple":
            flags = re.IGNORECASE if rule.get("case_insensitive") else 0
            fired = any(re.search(p, v, flags) for p in rule["patterns"])
        elif rt == "regex_negative":
            flags = re.IGNORECASE if rule.get("case_insensitive") else 0
            fired = not any(re.match(p, v, flags) for p in rule["patterns"])
        elif rt == "keyword_check":
            t = v if rule.get("case_sensitive") else v.lower()
            kws = rule["required_keywords"]
            kws = kws if rule.get("case_sensitive") else [k.lower() for k in kws]
            fired = not any(k in t for k in kws)
        elif rt == "keyword_blocklist":
            t = v.lower()
            fired = any(k.lower() in t for k in rule["blocked_keywords"])
        elif rt == "percentage_sum_check":
            pcts = re.findall(r"(\d+(?:\.\d+)?)[ \t\n\r\f\v]*%", v)
            if pcts:
                total = sum(float(p) for p in pcts)
                fired = abs(total - float(rule.get("target", 100.0))) > float(
                    rule.get("tolerance", 0.1)
                )
        elif rt == "parenthesis_check":
            fired = v.count("(") != v.count(")")
        elif rt == "year_range_check":
            years = re.findall(r"\b(19\d{2}|20\d{2})\b", v)
            fired = any(
                int(y) < int(rule["min_year"]) or int(y) > int(rule["max_year"]) for y in years
            )
        elif rt == "temperature_check":
            temps = re.findall(r"(\d+)[ \t\n\r\f\v]*°?[ \t\n\r\f\v]*[CcFf]", v)
            cs = [(float(t) - 32) * 5 / 9 if float(t) > 100 else float(t) for t in temps]
            fired = any(c < float(rule["min_temp"]) or c > float(rule["max_temp"]) for c in cs)
        elif rt == "contradiction_check":
            t = v.lower()
            fired = any(a.lower() in t and b.lower() in t for a, b in rule["contradiction_pairs"])
        elif rt == "custom":
            from .operators.rules import CUSTOM_PREDICATES

            fired = bool(CUSTOM_PREDICATES[rule["predicate"]](pd.Series([v])).iloc[0])
        elif rt == "type_check":
            if rule.get("expected_type", "string") in ("numeric", "float", "int"):
                try:
                    float(v)
                    fired = False
                except ValueError:
                    fired = True
        elif rt == "min_words":
            fired = len(v.split()) < int(rule["min_words"])
        elif rt == "max_words":
            fired = len(v.split()) > int(rule["max_words"])
        elif rt == "max_digit_ratio":
            fired = len(v) > 0 and len(_DIGIT_RE.findall(v)) / len(v) > float(rule["max_ratio"])
        elif rt == "max_symbol_ratio":
            fired = len(v) > 0 and len(_NON_ALNUM_RE.findall(v)) / len(v) > float(
                rule["max_ratio"]
            )
        elif rt == "min_alpha_ratio":
            fired = len(v) > 0 and len(re.findall(r"[A-Za-z]", v)) / len(v) < float(
                rule["min_ratio"]
            )
        elif rt == "min_distinct_word_ratio":
            ws = v.split()
            fired = bool(ws) and len({w.lower() for w in ws}) / len(ws) < float(rule["min_ratio"])
        elif rt == "min_alpha_word_ratio":
            ws = v.split()
            n_alpha = sum(
                1 for w in ws if any("a" <= c <= "z" or "A" <= c <= "Z" for c in w)
            )
            fired = bool(ws) and n_alpha / len(ws) < float(rule["min_ratio"])
        elif rt == "max_word_length":
            ws = v.split()
            fired = bool(ws) and max(len(w) for w in ws) > int(rule["max_word_length"])
        elif rt == "min_mean_word_length":
            ws = v.split()
            fired = bool(ws) and sum(len(w) for w in ws) / len(ws) < float(rule["min_mean"])
        elif rt == "max_mean_word_length":
            ws = v.split()
            fired = bool(ws) and sum(len(w) for w in ws) / len(ws) > float(rule["max_mean"])
        elif rt == "min_stopword_count":
            stops = {s.lower() for s in rule["stopwords"]}
            fired = sum(1 for w in v.split() if w.lower() in stops) < int(rule["min_count"])
        elif rt == "max_line_dup_ratio":
            lines = [x for l in v.split("\n") if (x := l.strip(" \t\n\r\f\x0b"))]
            fired = len(lines) > 1 and (len(lines) - len(set(lines))) / len(lines) > float(
                rule["max_ratio"]
            )
        elif rt in ("max_bullet_ratio", "max_ellipsis_line_ratio"):
            # independent copy of the marker set (this labeler shares no
            # code with the engine by design — see module docstring)
            BULLET_CHARS = ["•", "-", "*", "·", "●", "▪"]
            lines = [x for l in v.split("\n") if (x := l.strip(" \t\n\r\f\x0b"))]
            if rt == "max_bullet_ratio":
                n_hit = sum(1 for l in lines if l[0] in BULLET_CHARS)
            else:
                n_hit = sum(1 for l in lines if l.endswith(("...", "…")))
            fired = bool(lines) and n_hit / len(lines) > float(rule["max_ratio"])
        else:
            raise ValueError(f"unknown rule type {rt}")
        if fired:
            return _f(rule)
    return None


def _f(rule: dict) -> dict:
    return {
        "rule": rule.get("name", rule["type"]),
        "code": rule.get("error_code", rule["type"].upper()),
        "probability": float(rule.get("probability", 1.0)),
    }


def pattern_detect(value, cfg: dict) -> dict | None:
    """Reference pattern_based_detector.py:204-252 semantics."""
    if _is_missing(value) or str(value).strip(" \t\n\r\f\v") == "":
        return None
    # reference :218 — explicit class so Spark and Python agree char-for-char
    v = str(value).strip(" \t\n\r\f\v")
    norm = v.lower()
    probs = cfg.get("probabilities", {})
    for pat in cfg.get("format_patterns", []):
        if not re.match(pat, v):  # stripped, case-preserved (reference :222)
            return {"rule": "format_pattern", "code": "INVALID_FORMAT",
                    "probability": float(probs.get("INVALID_FORMAT", 0.8))}
    if cfg.get("not_empty") and v == "":
        return {"rule": "not_empty", "code": "EMPTY_VALUE",
                "probability": float(probs.get("EMPTY_VALUE", 0.9))}
    if "max_length" in cfg and len(v) > int(cfg["max_length"]):
        return {"rule": "max_length", "code": "MAX_LENGTH",
                "probability": float(probs.get("MAX_LENGTH", 0.8))}
    if "min_length" in cfg and len(v) < int(cfg["min_length"]):
        return {"rule": "min_length", "code": "MIN_LENGTH",
                "probability": float(probs.get("MIN_LENGTH", 0.8))}
    known = [k.lower().strip() for k in cfg.get("known_values", []) if not k.startswith("#")]
    if known and norm not in known:
        # reference :236-237 bidirectional 3-char prefix
        close = any(k.startswith(norm[:3]) or norm.startswith(k[:3]) for k in known)
        return {
            "rule": "known_values",
            "code": "UNKNOWN_VALUE",
            "probability": float(
                probs.get("UNKNOWN_VALUE_CLOSE", 0.75) if close else probs.get("UNKNOWN_VALUE", 0.85)
            ),
        }
    return None


def label_pages(
    pages: pd.DataFrame,
    rules: list[dict],
    pattern_cfg: dict,
    combine: str = "priority",
) -> pd.DataFrame:
    """Full oracle: per-url keep/drop + verdict + byte-exact text_scrubbed.
    Thresholds are the reference's: langid mismatch below 0.7, perplexity
    above 6.0, the per-method probability floors of ``DEFAULT_THRESHOLDS``
    and a weighted cutoff of 0.3."""
    langid = get_langid_model()
    lms = get_bigram_models()

    scores = langid.score_batch(pages["text"], pages["lang"])
    rows = []
    for i, page in pages.reset_index(drop=True).iterrows():
        text, lang = page["text"], page["lang"]
        findings: dict[str, dict | None] = {
            "validation": rule_first_hit(text, rules),
            "pattern": pattern_detect(lang, pattern_cfg),
            "ml": None,
            "llm": None,
        }
        cs = scores["claimed_score"].iloc[i]
        if cs is not None and not pd.isna(cs) and cs < 0.7:
            findings["ml"] = {
                "rule": "langid_mismatch",
                "code": "LANG_MISMATCH",
                "probability": min(0.99, max(1.0 - float(cs), 0.0)),
            }
        if text is not None and isinstance(text, str) and text.strip():
            lm = lms.get(lang) or lms.get("en")
            nll = lm.nll(text)
            if nll > 6.0:
                findings["llm"] = {
                    "rule": "high_perplexity",
                    "code": "HIGH_PERPLEXITY",
                    "probability": min(nll / 10.0, 1.0),
                }
        verdict = None
        if combine == "priority":
            for method in ("validation", "pattern", "ml", "llm"):
                f = findings[method]
                if f is not None and f["probability"] >= DEFAULT_THRESHOLDS[method]:
                    verdict = {
                        "status": "ERROR" if method == "validation" else "ANOMALY",
                        "method": method,
                        **f,
                    }
                    break
        else:  # weighted (reference comprehensive_detector.py:615-777)
            fv = findings["validation"]
            if fv is not None and fv["probability"] >= DEFAULT_THRESHOLDS["validation"]:
                verdict = {"status": "ERROR", "method": "validation", **fv}
            else:
                anomaly_methods = ["pattern", "ml", "llm"]
                gated = {
                    m: findings[m]
                    for m in anomaly_methods
                    if findings[m] is not None
                    and findings[m]["probability"] >= DEFAULT_THRESHOLDS[m]
                }
                score = sum(f["probability"] / 3.0 for f in gated.values())
                if score >= 0.3 and gated:
                    best_m = max(gated, key=lambda m: gated[m]["probability"])
                    verdict = {
                        "status": "ANOMALY",
                        "method": best_m,
                        "rule": gated[best_m]["rule"],
                        "code": gated[best_m]["code"],
                        "probability": min(score, 1.0),
                    }
        rows.append(
            {
                "url": page["url"],
                "keep": verdict is None,
                "status": None if verdict is None else verdict["status"],
                "method": None if verdict is None else verdict["method"],
                "code": None if verdict is None else verdict["code"],
                "probability": None if verdict is None else verdict["probability"],
                "text_scrubbed": scrub_str(text),
            }
        )
    return pd.DataFrame(rows)
