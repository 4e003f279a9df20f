"""Blocking-rule descriptors + the rules.txt format (SURVEY.md S3, §1.5).

Rule text format (reference ``simjoin_entitymatching/blocker/extract_formula.py:7-31``):
first line the rule count, then one ``<feature_name> +|- <threshold>`` per line,
feature names in the py_entitymatching convention
``<attr>_<attr>_<sim>_<tok>_<settings>[_<tok>_<settings>]`` e.g.
``title_title_jac_qgm_3_qgm_3`` or ``title_title_lev_dist_lev_dist``.

``sim`` ∈ {jac, cos, dice, overlap, lev, exm, anm} after normalization
(py_em spells some as lev_dist / exact_match / abs_norm / overlap_coeff).
Sign '+' keeps pairs with value >= threshold; '-' keeps value <= threshold
(meaningful for lev_dist). Parsed per ``cpp/common/io.h:93`` /
``cpp/common/dataframe.h:93-107`` semantics.
"""

from __future__ import annotations

from dataclasses import dataclass


#: feature-name sim spellings -> canonical sim key
_SIM_ALIASES = {
    "jac": "jac", "jaccard": "jac",
    "cos": "cos", "cosine": "cos",
    "dice": "dice",
    "overlap": "overlap",
    "overlap_coeff": "overlap_coeff",
    "lev": "lev", "lev_dist": "lev", "lev_sim": "lev_sim",
    "exm": "exm", "exact_match": "exm",
    "anm": "anm", "abs_norm": "anm",
}

#: canonical sim keys whose feature-name spelling differs
FEATURE_SPELLING = {"lev": "lev_dist", "exm": "exact_match", "anm": "abs_norm"}

#: sims ordered longest-first so multi-word names win the scan
_SIM_KEYS = sorted(_SIM_ALIASES, key=len, reverse=True)

_TOKS = {"dlm", "qgm", "wspace", "alphanumeric", "none", "lev_dist", "exact_match", "abs_norm"}


@dataclass(frozen=True)
class Rule:
    attr: str
    sim: str                     # canonical: jac|cos|dice|overlap|overlap_coeff|lev|lev_sim|exm|anm
    tok: str | None              # dlm|qgm|wspace|alphanumeric|None
    tok_settings: str | int | None
    threshold: float
    sign: str = "+"              # '+': value >= threshold ; '-': value <= threshold

    @property
    def dataset_key(self) -> str:
        """datasets_map cache key, mirroring blocker_config.h:27 'tok_setting_attr'."""
        return f"{self.tok}_{self.tok_settings}_{self.attr}"


def parse_feature_name(name: str) -> tuple[str, str, str | None, str | None]:
    """``title_title_jac_qgm_3_qgm_3`` -> (attr, sim, tok, settings).

    Attribute names must not contain the sim keywords; the reference has the
    same ambiguity and resolves it identically (scan for the sim token).
    """
    parts = name.split("_")
    for i in range(len(parts)):
        for key in _SIM_KEYS:
            kl = key.split("_")
            if parts[i:i + len(kl)] == kl:
                attr_parts = parts[:i]
                if len(attr_parts) % 2 != 0:
                    continue
                half = len(attr_parts) // 2
                if half == 0 or attr_parts[:half] != attr_parts[half:]:
                    continue
                attr = "_".join(attr_parts[:half])
                rest = parts[i + len(kl):]
                tok, settings = None, None
                if rest and rest[0] in _TOKS and rest[0] not in ("lev_dist", "exact_match", "abs_norm", "none"):
                    tok = rest[0]
                    if len(rest) > 1 and rest[1].isdigit():
                        settings = rest[1]
                    elif tok == "dlm" and len(rest) > 1 and rest[1] not in (tok, "None", "none"):
                        # `<tok>_<tok>` (settings omitted) and a literal
                        # 'None' both mean settings=None — keep round-trips
                        # with write_rules loss-free
                        settings = rest[1]
                return attr, _SIM_ALIASES[key], tok, settings
    raise ValueError(f"cannot parse feature name {name!r}")


def parse_rule_line(line: str) -> Rule:
    name, sign, thr = line.rsplit(None, 2)
    attr, sim, tok, settings = parse_feature_name(name)
    return Rule(attr=attr, sim=sim, tok=tok, tok_settings=settings,
                threshold=float(thr), sign=sign)


def read_rules(path: str) -> list[Rule]:
    with open(path) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    n = int(lines[0])
    rules = [parse_rule_line(ln) for ln in lines[1:]]
    if len(rules) != n:
        raise ValueError(f"rules.txt header says {n} rules, found {len(rules)}")
    return rules


def write_rules(rules: list[Rule], path: str) -> None:
    def feature_name(r: Rule) -> str:
        sim_spelling = FEATURE_SPELLING.get(r.sim, r.sim)
        if r.tok and r.tok_settings is not None:
            tok_part = f"_{r.tok}_{r.tok_settings}_{r.tok}_{r.tok_settings}"
        elif r.tok:
            tok_part = f"_{r.tok}_{r.tok}"
        else:
            tok_part = f"_{sim_spelling}"
        return f"{r.attr}_{r.attr}_{sim_spelling}{tok_part}"

    with open(path, "w") as f:
        f.write(f"{len(rules)}\n")
        for r in rules:
            f.write(f"{feature_name(r)} {r.sign} {r.threshold}\n")
