"""Mongo *query-operator* dialect (the $match predicate language) -> Column.

This is the dialect of the one pipeline stage route81's README documents
(/root/reference/README.md:281-287, a $match on operationType); the
compilation contract is SURVEY §2's operator map.

Null/missing semantics (SURVEY §7 hard point 3): MongoDB equality on a
missing field matches documents where the field is null or absent, and
$ne / $nin / $not match documents where the field is missing. SQL
three-valued logic drops NULL comparisons instead. We compile
deliberately:

  {f: v}, v non-null   -> col(f) == v              (null rows excluded — same in Mongo: null != v)
  {f: null}            -> col(f).isNull()          (Mongo: matches null or missing)
  $ne v                -> NOT (col(f) <=> v)       (null rows MATCH, as in Mongo)
  $in [..null..]       -> isNull() | isin(rest)
  $in [..no null..]    -> isin(vs)                 (null -> NULL -> excluded; matches Mongo)
  $nin vs              -> NOT coalesce(isin, false) with the $in expansion
  $not pred            -> NOT coalesce(pred, false)
  $nor [p...]          -> NOT (coalesce(p1,false) | ...)
  $exists true/false   -> isNotNull / isNull       (fixed schema: missing == null)
"""

from __future__ import annotations

import contextvars
import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from route81_spark.pipeline.exprs import PipelineCompileError, compile_expr, extjson_literal


# --------------------------------------------------------------------
# $text — engine-backed documented SUBSET of MongoDB text search.
#
# The reference delegates $text to the MongoDB server's text index
# (route81.go:181-197); this engine implements the documented query
# semantics directly over a declared text column so the operator works
# without a server:
#   * the $search string parses into phrases ("..."), plain terms, and
#     negations (-term / -"phrase") — Mongo's grammar;
#   * matching: ALL phrases must be present (substring); when there are
#     no phrases, ANY plain term must match a token; negated terms/
#     phrases must be absent (Mongo's documented behavior: with a
#     phrase present, loose terms influence score, not matching);
#   * $caseSensitive honored (default false = case-folded);
#   * textScore ({$meta: "textScore"}) is the ENGINE-DEFINED integer
#     relevance: token-occurrence count summed over plain terms plus
#     substring-occurrence count summed over phrases (Mongo's own
#     tf-weight formula is index-internal and unreplicable without it);
#   * $diacriticSensitive defaults to FALSE (Mongo's text-index-v3
#     default): text and query literals fold through
#     ops.unitext.fold_diacritics — one pure-Column translate (marks
#     removed, single-base precomposed chars folded) — so 'café',
#     decomposed 'cafe'+U+0301, and 'cafe' all match; explicit
#     {$diacriticSensitive: true} keeps diacritics significant (r8).
#   * stemming (r9): {stem: "porter"} = the full Snowball English
#     (Porter2) stemmer as a pure-Column program (ops/porter.py) —
#     the algorithm Mongo's English analyzer runs server-side;
#     `$language: "english"/"en"` selects it too. {stem: "s"} keeps
#     the Harman S-stemmer plural subset (r8). {stem: "french"} /
#     `$language: "french"/"fr"` (r10) = the full Snowball French
#     stemmer (ops/french.py); {stem: "german"} /
#     `$language: "german"/"de"` (r12) = the full Snowball German
#     stemmer (ops/german.py); {stem: "swedish"} /
#     `$language: "swedish"/"sv"` (r12) = the full Snowball Swedish
#     stemmer (ops/swedish.py); {stem: "norwegian"} /
#     `$language: "norwegian"/"nb"` (r13) = the full Snowball
#     Norwegian stemmer (ops/norwegian.py); {stem: "danish"} /
#     `$language: "danish"/"da"` (r14) = the full Snowball Danish
#     stemmer (ops/danish.py). The carried non-English
#     analyses match
#     Mongo's analyzer ORDER — tokenize (always Unicode runs: accented
#     letters must not split tokens), stem WITH diacritics intact
#     (German's own postlude removes umlauts; Swedish keeps ä/å/ö,
#     Norwegian keeps æ/å/ø),
#     THEN fold — so 'continuait' stems to 'continu' and 'bücher' to
#     'buch' before the accent fold that the English path applies up
#     front. Tokens and plain query terms stem; phrases stay raw.
#     Other stem values fail loudly.
#   * DOCUMENTED DIVERGENCES (fail loudly where dishonoring a request):
#     $language values beyond english and the _CHAIN_LANGS registry
#     (french/german/swedish/norwegian/danish) stay
#     accepted-and-ignored
#     (the other ~8 Snowball programs are not carried), and the
#     engine default WITHOUT $language is unstemmed where Mongo would
#     default to English — flipping the default would surprise the
#     ASCII-token fast path; opt in per query. Tokens are
#     ASCII-alnum runs BY DEFAULT (engine extension {unicode: true}
#     switches to Unicode letter/number runs for any script — r8);
#     diacritic folding covers Mn/Me marks and single-base precomposed
#     characters (= utf8proc strip_accents), not full ICU folding
#     (ß/ø/đ/ligatures stay distinct letters, as in strip_accents);
#     NFC-normalize upstream via ops.unitext.nfc_normalize.
#     The French program is the CLASSIC (pre-2019) Snowball French
#     revision — no He/Hi diaeresis preludes — so derivatives of
#     words like 'aiguë' can stem differently from a current
#     Mongo/Snowball deployment (the revision pin and rationale live
#     in ops/french.py's docstring); the German program (r12) is
#     likewise the CLASSIC revision — no german2 ae/oe/ue folding,
#     no 3.x -erin/-erinnen handling (pin + rationale in
#     ops/german.py's docstring); the Swedish program (r12) is the
#     CLASSIC revision too — no 2.x/3.x -et/-t additions (pin in
#     ops/swedish.py's docstring); so is the Norwegian program (r13)
#     — no 2.x/3.x s-ending/-ers/-ets revisions (pin in
#     ops/norwegian.py's docstring); the Danish program (r14) has no
#     published classic-vs-2.x delta (verified against the compiled
#     2.x authority in tests/test_snowball_authority.py).
#     $caseSensitive: true composes
#     with a stem mode SELF-CONSISTENTLY but degrades conflation:
#     every Snowball program assumes lowercase input, so capitalized
#     tokens AND capitalized query terms pass through largely
#     unstemmed — the two sides stay symmetric (a capitalized query
#     term still matches the same capitalized document token), but
#     'Running' will not conflate with 'runs'. Mongo's server
#     analyzer lowercases for stemming even under $caseSensitive;
#     carrying that would need a second stemmed-lowercase token
#     array per field — not done, documented instead.
#   * engine extension key `field` names the searched column
#     (default "text") — the analog of the server-side text index
#     definition; `fields` ({column: weight, ...}, integer weights
#     1..99999) is the WEIGHTED MULTI-FIELD index analog (r9): terms
#     match in ANY field, phrases within a single field's value,
#     negations must be absent from EVERY field, and textScore sums
#     weight x occurrences per field — Mongo's
#     createIndex({a: "text", b: "text"}, {weights: ...}) semantics
#     over the engine-defined integer score; `languageOverride`
#     (Mongo's language_override index option, r9) names a column with
#     each document's language — English docs stem with the active
#     English-capable mode, French docs (r10) stem with the Snowball
#     French program, German/Swedish (r12) and Norwegian (r13) docs
#     with theirs (every
#     _CHAIN_LANGS entry gets an arm), every other language keeps
#     raw tokens
#     (documented: the remaining Snowball programs are not carried),
#     query terms stem with the query language as usual;
#     `stopWords: true` (r10) drops the analysis language's Snowball
#     stop words from indexed tokens AND query terms before stemming —
#     Mongo's index does this BY DEFAULT (documented divergence: this
#     engine keeps stop words unless asked, so existing queries stay
#     stable); an all-stop-words search matches nothing, phrases keep
#     their stop words (raw substring semantics). ALL of Mongo's text
#     languages except romanian carry their verbatim Snowball list
#     (r11, ops/stopwords.py — vendored english/french constants
#     shared as data with the oracles; the other twelve load from the
#     PySpark distribution's own MLlib stopwords resource). For
#     languages without a carried stemmer the analyzer is
#     stop-without-stem (documented partial); $language: "none" stops
#     nothing (Mongo: no analysis); romanian/unknown fail loudly
#     rather than stop with a wrong-language list. Under
#     languageOverride each document stops with ITS language's list
#     (en/fr/de; any other language is unstopped AND unstemmed — no
#     analyzer), and query terms stop with the query language's list.
#     Under the default diacritic-INsensitive mode the stop check is
#     fold-canonical on both sides ('uber' ≡ 'über' for stopping
#     exactly as for matching).
# --------------------------------------------------------------------

# The active $text spec, read by {$meta: "textScore"}. A ContextVar —
# NOT a module global — scoped to one pipeline application:
# compile_pipeline's runner opens a fresh scope (set(None)) on entry
# and restores the outer value on exit, so (a) a pipeline using
# textScore WITHOUT its own $text fails loudly instead of silently
# binding a previous pipeline's search, (b) interleaved or concurrent
# compiles can never cross-wire scores (contextvars are per-thread /
# per-async-task), and (c) nested sub-pipelines ($lookup pipeline
# form) get their own scope and hand the outer one back.
_TEXT_SPEC: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "route81_text_spec", default=None
)


# Carried non-English Snowball analyzer registry — the ONE place a
# new language lands (aliases here + an ops/<key>.py module exporting
# <key>_stem_tokens / <key>_py by convention). _text_parts' language
# dispatch, the stop resolution, the per-field analyzer chains, and
# every languageOverride CASE arm derive from it; "english" stays the
# built-in special case (the porter/s modes stem an already-folded
# token source instead of a pre-fold chain). Insertion order IS the
# canonical override arm order (own language first, then english,
# then the rest in this order) — reordering would change recorded
# plans.
_CHAIN_LANGS = {
    "french": ("french", "fr"),        # r10, ops/french.py
    "german": ("german", "de"),        # r12, ops/german.py
    "swedish": ("swedish", "sv"),      # r12, ops/swedish.py
    # Mongo's code for Norwegian is "nb" (Bokmål) — ops/stopwords.py
    # carries the same alias
    "norwegian": ("norwegian", "nb"),  # r13, ops/norwegian.py
    "danish": ("danish", "da"),        # r14, ops/danish.py
}


def _chain_fns(key: str):
    """(stem_tokens, stem_py) for a registry language, resolved by
    the ops-module naming convention."""
    import importlib

    mod = importlib.import_module(f"route81_spark.ops.{key}")
    return getattr(mod, f"{key}_stem_tokens"), getattr(mod, f"{key}_py")


def _parse_search(search: str) -> tuple[list[str], list[str], list[str], list[str]]:
    """-> (pos_terms, neg_terms, pos_phrases, neg_phrases)."""
    pos_ph, neg_ph = [], []
    for neg, ph in re.findall(r'(-?)"([^"]*)"', search):
        if ph:
            (neg_ph if neg else pos_ph).append(ph)
    rest = re.sub(r'-?"[^"]*"', ' ', search)
    pos_t = [t for t in rest.split() if not t.startswith("-")]
    neg_t = [t[1:] for t in rest.split() if t.startswith("-") and len(t) > 1]
    return pos_t, neg_t, pos_ph, neg_ph


def _text_parts(spec: dict):
    if not isinstance(spec, dict) or "$search" not in spec:
        raise PipelineCompileError("$text requires a {$search: <string>} document")
    unknown = set(spec) - {
        "$search", "$language", "$caseSensitive", "$diacriticSensitive",
        "field", "unicode", "stem", "fields", "languageOverride",
        "stopWords",
    }
    if unknown:
        raise PipelineCompileError(f"unsupported $text options: {sorted(unknown)}")
    field = spec.get("field", "text")
    # engine extension `fields`: the analog of a WEIGHTED MULTI-FIELD
    # text index ({title: 5, body: 1} <-> db.createIndex({title:
    # "text", body: "text"}, {weights: ...})): terms match in ANY
    # indexed field, negations must be absent from EVERY field,
    # phrases must appear within a single field's value, and textScore
    # sums weight x occurrence per field (Mongo's weight semantics
    # over the engine-defined integer score). Weights are positive
    # ints, as Mongo requires (1..99999).
    fields = spec.get("fields")
    if fields is not None:
        if "field" in spec:
            raise PipelineCompileError(
                "$text: `field` and `fields` are mutually exclusive"
            )
        if fields == "$**":
            raise PipelineCompileError(
                "$text: the '$**' wildcard form needs schema context to"
                " enumerate string columns — use it inside a pipeline's"
                " $match (compile_match expands it); direct compile_text"
                " callers must pass an explicit {column: weight} document"
            )
        if (not isinstance(fields, dict) or not fields or not all(
            isinstance(k, str)
            and isinstance(w, int) and not isinstance(w, bool)
            and 1 <= w <= 99999
            for k, w in fields.items()
        )):
            raise PipelineCompileError(
                "$text: `fields` must be a non-empty {column: weight} "
                "document with integer weights in 1..99999 (Mongo's "
                "text-index weight range)"
            )
    cs = bool(spec.get("$caseSensitive", False))
    # Mongo's text-index-v3 default: diacritic-INsensitive
    ds = bool(spec.get("$diacriticSensitive", False))
    # engine extension: {unicode: true} switches tokenization from
    # ASCII-alnum runs to Unicode letter/number runs (any script) —
    # shrinking the documented CJK/diacritics divergence; matching and
    # scoring semantics are otherwise identical
    uni = bool(spec.get("unicode", False))
    # stemming: {stem: "porter"} runs the full Snowball English
    # (Porter2) stemmer (ops.porter) on tokens AND plain query terms —
    # the same algorithm MongoDB's English analyzer applies
    # server-side; {stem: "s"} keeps the Harman S-stemmer plural
    # subset (ops.text.s_stem). `$language: "english"` (or "en")
    # selects Porter2, matching Mongo's default-English stemming;
    # `$language: "french"` (or "fr", r10) selects the Snowball French
    # program (ops.french); other languages stay accepted-and-ignored
    # (documented divergence: the remaining ~13 Snowball programs are
    # not carried), and the engine default WITHOUT $language remains
    # unstemmed (documented: Mongo's no-language default is English;
    # flip on per-query via $language or stem). Phrases match the raw
    # text unstemmed. Any other stem value fails loudly.
    stem = spec.get("stem")
    if stem is None:
        lang = str(spec.get("$language", "")).lower()
        if lang in ("english", "en"):
            stem = "porter"
        else:
            for key, aliases in _CHAIN_LANGS.items():
                if lang in aliases:
                    stem = key
                    break
    if stem not in (None, "s", "porter", *_CHAIN_LANGS):
        raise PipelineCompileError(
            f"$text: unsupported stem mode {stem!r} — 's' (Harman"
            " S-stemmer), 'porter' (Snowball English) and the carried"
            f" Snowball languages {sorted(_CHAIN_LANGS)} are the"
            " implemented modes"
        )
    # languageOverride: the analog of Mongo's text-index
    # `language_override` option — a COLUMN naming each document's
    # language. Documents whose override resolves to English
    # ("english"/"en", case-folded) stem with the active English-
    # capable mode, French documents ("french"/"fr", r10) stem with
    # the Snowball French program, German ("german"/"de"), Swedish
    # ("swedish"/"sv", both r12), Norwegian ("norwegian"/"nb", r13)
    # and Danish ("danish"/"da", r14) documents with theirs; every
    # other language keeps RAW
    # tokens (documented divergence: Mongo would apply THAT language's
    # Snowball program — the remaining ~8 are not carried; unknown
    # languages index unstemmed here, exactly like a Mongo index whose
    # override names a language it has no analyzer for). Query terms
    # stem with the QUERY language as usual. Requires an active stem
    # mode — without one the option would be a silent no-op, so it
    # fails loudly instead.
    lang_over = spec.get("languageOverride")
    if lang_over is not None:
        if not isinstance(lang_over, str) or not lang_over:
            raise PipelineCompileError(
                "$text: languageOverride must name a column"
            )
        if stem is None:
            # the hint derives from the registry so a new carried
            # language appears here without a dispatch edit (r13
            # ADVICE: the old text named only 'english' although any
            # _CHAIN_LANGS language activates a stem mode)
            raise PipelineCompileError(
                "$text: languageOverride without an active stem mode is"
                " a no-op — set stem: 's'/'porter' or $language to a"
                " stemmed language ('english' or one of"
                f" {sorted(_CHAIN_LANGS)})"
            )
    # stopWords (r10): Mongo's text index drops language stop words
    # from BOTH the indexed token stream and the query terms (a search
    # of only stop words matches nothing). Opt-in here — the engine
    # default keeps every token; flipping it would change every
    # existing query's results (documented divergence: Mongo stops by
    # default). `stop` resolves to the ANALYZER language's list (r11,
    # ops/stopwords.py): an explicit English-capable stem mode or an
    # English/unset $language -> the Snowball English list; the French
    # program -> the verbatim Snowball French list; any OTHER Mongo
    # text language ($language: "german"/"ru"/...) -> that language's
    # Snowball list, loaded from the PySpark distribution's own MLlib
    # stopwords resource (stemming for those languages stays honestly
    # not-carried — stop-without-stem is the documented partial
    # analyzer); $language: "none" means NO analysis in Mongo, so
    # nothing stops; romanian (no carried list) and unknown languages
    # fail loudly rather than stop with the wrong language's list.
    # languageOverride stops each document with ITS language's list
    # (en -> English, fr -> French, de -> German, sv -> Swedish,
    # nb -> Norwegian (r13), da -> Danish (r14), anything
    # else unstopped — the
    # same "no analyzer" rule the stemming dispatch applies); query
    # terms stop with the QUERY language's list, exactly as they stem
    # with the query language.
    stop: tuple[str, ...] | None = None
    if spec.get("stopWords", False):
        from route81_spark.ops.stopwords import (
            STOP_EN, stop_list,
        )

        lang = str(spec.get("$language", "english")).lower()
        # r12 (review finding): an EXPLICIT stem mode combined with a
        # DECLARED different-language $language and stopWords is a
        # contradiction — honoring the stem arm silently stopped
        # German-declared text with the ENGLISH list. Everywhere else
        # contradictions fail loudly (romanian/unknown, $stem
        # stopLanguage), so this does too. $language: "none" stays the
        # pinned exception (no analysis = nothing stops; the stem
        # override is still honored for stemming), and an UNSET
        # $language never conflicts (the stem mode then IS the
        # analysis language).
        _stem_langs = {"porter": ("english", "en"),
                       "s": ("english", "en"),
                       **_CHAIN_LANGS}
        declared = str(spec.get("$language", "")).lower()
        if (spec.get("stem") is not None and declared
                and declared != "none" and stem in _stem_langs
                and declared not in _stem_langs[stem]):
            raise PipelineCompileError(
                f"$text: stopWords with explicit stem mode {stem!r} "
                f"contradicts $language: {declared!r} — drop one, or "
                "use languageOverride for per-document analysis"
            )
        if lang == "none":
            # Mongo: language 'none' = no analysis at all — nothing
            # stops, even when an explicit engine stem extension is
            # set (the stem override is honored for stemming; stopping
            # defers to the DECLARED document language)
            stop = None
        elif stem in _CHAIN_LANGS:
            # carried non-English analyzers: the language's verbatim
            # Snowball list (raw surface forms, stopped pre-stem on
            # unfolded tokens in the language's chain; for French
            # stop_list returns the vendored STOP_FR)
            stop = stop_list(stem)
        elif stem in ("porter", "s") or lang in ("english", "en", ""):
            stop = STOP_EN
        else:
            try:
                stop = stop_list(lang)
            except ValueError as e:
                raise PipelineCompileError(f"$text: stopWords — {e}")
    return (field, fields, cs, ds, uni, stem, lang_over, stop,
            _parse_search(str(spec["$search"])))


def _text_norm(c: Column, cs: bool) -> Column:
    return c if cs else F.lower(c)


def _substr_count(text: Column, s: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(s))))
        / F.lit(len(s))
    ).cast("long")


def _text_bound(spec: dict, build):
    """Shared bind-once scaffolding: normalize + tokenize EVERY
    searched column EXACTLY ONCE (one struct bound through a 1-element
    transform — otherwise every term's probe re-inlines the split; see
    web.url_canonicalize for the trap), then hand the builder
    `slots` = [(text_i, toks_i, weight_i)] — one slot per indexed
    field (a single unweighted slot for the plain `field` form) —
    plus (parts, norm)."""
    field, fields, cs, ds, uni, stem, lang_over, stop, parts = \
        _text_parts(spec)
    cols = list((fields or {field: 1}).items())
    if not ds:
        from route81_spark.ops.unitext import fold_diacritics, fold_diacritics_py
    if uni:
        sep = r"[^\p{L}\p{N}]+"  # Unicode categories (Java + RE2)
    else:
        sep = "[^0-9a-zA-Z]+" if cs else "[^0-9a-z]+"

    def base_norm(s: str) -> str:
        s = s if cs else s.lower()
        return s if ds else fold_diacritics_py(s)

    if stop:
        from route81_spark.ops.stopwords import STOP_EN

        # stop removal happens on the case-folded SURFACE form, before
        # any stemming (Mongo's analyzer order: tokenize -> stop ->
        # stem); phrases are raw substring matches and keep their stop
        # words. `stop` IS the query/analysis language's resolved list
        # (_text_parts) — query terms filter against it exactly as
        # they stem with the query language; document tokens stop
        # per-ANALYSIS-language below (languageOverride picks each
        # document's canonical en/fr/de list). Dropping every positive
        # term leaves the existing only-negations branch: matches
        # nothing, exactly Mongo's behavior for an all-stop-words
        # search. Several lists carry accented surface forms ('été',
        # 'über'), and the comparison form must MATCH the token form
        # at the filter site: the French chain filters pre-fold tokens
        # (unfolded list), while the generic per-field path filters
        # the already-diacritic-folded token array — so under
        # diacritic-INsensitive matching the list folds too (both
        # sides canonical, 'uber' ≡ 'über' for stopping exactly as it
        # does for matching; ASCII lists — English — are unchanged by
        # the fold, keeping every recorded plan identical).
        if ds or stem in _CHAIN_LANGS:
            # carried non-English analyzers stop on the UNFOLDED
            # lowercase surface (their chains filter pre-fold tokens
            # against the raw accented lists)
            def _stop_key(t: str) -> str:
                return t.lower()
        else:
            def _stop_key(t: str) -> str:
                return fold_diacritics_py(t.lower())
        _stop_q = list(dict.fromkeys(_stop_key(w) for w in stop))
        _ss = set(_stop_q)
        pos_t0, neg_t0, pos_ph0, neg_ph0 = parts
        parts = (
            [t for t in pos_t0 if _stop_key(t) not in _ss],
            [t for t in neg_t0 if _stop_key(t) not in _ss],
            pos_ph0, neg_ph0,
        )
        # each literal stop array is built ONLY for the path that
        # consumes it: stop_q_arr feeds the plain per-field token
        # source; the per-document override branches always stop with
        # the CANONICAL per-language lists (override requires a
        # stem-capable mode, but the query list may differ from a
        # branch's); each language's chain owns its unfolded array
        # ops imports lazily: its package init registers the extension
        # stages through pipeline.compiler, which imports this module
        from route81_spark.ops.stopwords import stop_list as _sl
        from route81_spark.ops.util import lit_string_array

        if lang_over is None and stem not in _CHAIN_LANGS:
            stop_q_arr = lit_string_array(_stop_q)
        stop_arrs: dict[str, Column] = {}
        if lang_over is not None:
            stop_arrs["english"] = lit_string_array(STOP_EN)

        for _key in _CHAIN_LANGS:
            if stem == _key or lang_over is not None:
                stop_arrs[_key] = lit_string_array(_sl(_key))

        def drop_stops(tks: Column, stop_arr: Column) -> Column:
            # one array_contains against the literal list per token —
            # map-only, stays ahead of the (optional) stemmer
            return F.filter(
                tks, lambda x: ~F.array_contains(stop_arr, F.lower(x))
            )

    def _lang_chain(key: str):
        """The carried non-English analyzers in Mongo's ORDER (fr
        r10; de/sv r12; nb r13): tokenize the case-folded (NOT
        diacritic-folded) text on Unicode runs — accented letters
        must not split tokens — drop the language's stop words on
        the UNFOLDED surface (the raw accented lists), stem with
        diacritics intact (the algorithms' regions depend on them;
        German's own postlude removes its umlauts, French/Swedish/
        Norwegian keep theirs), THEN fold each token."""
        stem_tokens = _chain_fns(key)[0]

        def chain(text_cf: Column) -> Column:
            tks = F.split(text_cf, r"[^\p{L}\p{N}]+")
            if stop:
                tks = drop_stops(tks, stop_arrs[key])
            tks = stem_tokens(tks)
            if not ds:
                tks = F.transform(tks, fold_diacritics)
            return tks

        return chain

    chains = {key: _lang_chain(key) for key in _CHAIN_LANGS}

    if stem:
        if stem in _CHAIN_LANGS:
            _chain_py = _chain_fns(stem)[1]

            def stem_py(t: str) -> str:
                # literal order mirrors the language's chain: lower,
                # stem WITH diacritics, then fold
                s = _chain_py(t if cs else t.lower())
                return s if ds else fold_diacritics_py(s)
        elif stem == "porter":
            from route81_spark.ops.porter import porter2_py as _en_py
            from route81_spark.ops.porter import (
                porter2_stem_tokens as stem_toks,
            )

            def stem_py(t: str) -> str:
                return _en_py(base_norm(t))
        else:
            from route81_spark.ops.text import (
                s_stem_py as _s_py, s_stem_tokens as stem_toks,
            )

            def stem_py(t: str) -> str:
                return _s_py(base_norm(t))

        pos_t, neg_t, pos_ph, neg_ph = parts
        # terms stem (English modes: after case/diacritic fold, like
        # the token array; French: before the fold); phrases match the
        # raw normalized text, unstemmed
        parts = (
            [stem_py(t) for t in pos_t],
            [stem_py(t) for t in neg_t],
            [base_norm(p) for p in pos_ph],
            [base_norm(p) for p in neg_ph],
        )

        def norm(s: str) -> str:  # literals already normalized above
            return s

    else:
        norm = base_norm

    struct_cols = []
    for i, (name, _w) in enumerate(cols):
        text_cf = _text_norm(F.col(name), cs)
        if not ds:
            # fold AFTER case-folding (the table carries both cases);
            # one pure-Column translate, still inside codegen
            text = fold_diacritics(text_cf)
        else:
            text = text_cf
        raw_toks = F.split(text, sep)
        if stop and lang_over is None and stem not in _CHAIN_LANGS:
            # the query/analysis language's token source (the carried
            # chains and the per-document override branches stop
            # per-language below)
            raw_toks = drop_stops(raw_toks, stop_q_arr)

        def en_toks() -> Column:
            # the English-stopped token source for an override's
            # English branch (raw_toks stays UNstopped under an
            # override: unknown languages have no analyzer, so Mongo
            # neither stems nor stops them)
            if stop and lang_over is not None:
                return drop_stops(raw_toks, stop_arrs["english"])
            return raw_toks

        def override_case(own_key: str, own_toks: Column) -> Column:
            # per-document analysis language (language_override): the
            # QUERY's analyzer first (its chain is already built), en
            # docs Snowball English (+ English stops when asked),
            # each other carried language its program (+ its stops),
            # in registry order; everything else raw unstopped
            # tokens. The CASE evaluates lazily, one branch per row.
            from route81_spark.ops.porter import porter2_stem_tokens

            lov = F.lower(F.col(lang_over))
            aliases = {"english": ("english", "en"), **_CHAIN_LANGS}
            case = F.when(lov.isin(*aliases[own_key]), own_toks)
            for key in aliases:
                if key == own_key:
                    continue
                expr = (
                    porter2_stem_tokens(en_toks())
                    if key == "english"
                    else chains[key](text_cf)
                )
                case = case.when(lov.isin(*aliases[key]), expr)
            return case.otherwise(raw_toks)

        if stem in _CHAIN_LANGS:
            toks = chains[stem](text_cf)
            if lang_over is not None:
                toks = override_case(stem, toks)
        elif stem:
            # stemmers apply through one call_function against a
            # once-per-session SQL temp function — rebuilding the big
            # stemmer tree per field cost ~1.5 s of driver time each
            stemmed = stem_toks(en_toks())
            if lang_over is not None:
                toks = override_case("english", stemmed)
            else:
                toks = stemmed
        else:
            toks = raw_toks
        struct_cols += [text.alias(f"t{i}"), toks.alias(f"k{i}")]

    bound = F.transform(
        F.array(F.struct(*struct_cols)),
        lambda b: build(
            [(b.getField(f"t{i}"), b.getField(f"k{i}"), w)
             for i, (_n, w) in enumerate(cols)],
            parts,
            norm,
        ),
    )
    return F.get(bound, 0)


def compile_text(spec: dict) -> Column:
    """$text match predicate (see module comment for the subset).
    Multi-field semantics (the `fields` weighted-index form): a term
    matches when it appears in ANY indexed field, a phrase when it
    appears within a single field's value, and a negation only when
    the term/phrase is absent from EVERY field — Mongo's text-index
    behavior over multiple indexed fields."""

    def build(slots, parts, norm):
        pos_t, neg_t, pos_ph, neg_ph = parts

        def any_field(per_slot) -> Column:
            out = None
            for text, toks, _w in slots:
                c = per_slot(text, toks)
                out = c if out is None else out | c
            return out

        preds: list[Column] = []
        if pos_ph:
            for ph in pos_ph:
                preds.append(
                    any_field(lambda t, _k: t.contains(F.lit(norm(ph))))
                )
        elif pos_t:
            any_t = None
            for t in pos_t:
                c = any_field(
                    lambda _t, k, t=t: F.array_contains(k, norm(t))
                )
                any_t = c if any_t is None else any_t | c
            preds.append(any_t)
        else:
            # only negations (or empty search): matches nothing (Mongo)
            preds.append(F.lit(False))
        for t in neg_t:
            preds.append(~F.coalesce(
                any_field(lambda _t, k, t=t: F.array_contains(k, norm(t))),
                F.lit(False),
            ))
        for ph in neg_ph:
            preds.append(~F.coalesce(
                any_field(lambda t, _k, ph=ph: t.contains(F.lit(norm(ph)))),
                F.lit(False),
            ))
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return F.coalesce(out, F.lit(False))

    return _text_bound(spec, build)


def text_score(spec: dict) -> Column:
    """Engine-defined textScore: token occurrences of plain terms +
    substring occurrences of phrases, each field's contribution scaled
    by its index weight (integer-exact, oracle-able; the plain `field`
    form is one slot of weight 1)."""

    def build(slots, parts, norm):
        pos_t, _neg_t, pos_ph, _neg_ph = parts
        score: Column = F.lit(0).cast("long")
        for text, toks, w in slots:
            per: Column | None = None
            for t in pos_t:
                # bind the literal OUTSIDE the HOF lambda: a 2-param
                # lambda would become (element, index) in Spark HOFs
                lit = F.lit(norm(t))
                c = F.size(F.filter(toks, lambda x: x == lit))  # noqa: B023
                per = c if per is None else per + c
            for ph in pos_ph:
                c = _substr_count(text, norm(ph))
                per = c if per is None else per + c
            if per is not None:
                score = score + F.lit(w) * per
        return score

    return _text_bound(spec, build)


def active_text_spec() -> dict | None:
    """The $text spec of the pipeline application currently compiling
    (None outside one, or before its $match compiles)."""
    return _TEXT_SPEC.get()


def open_text_scope() -> contextvars.Token:
    """Enter a fresh textScore scope; pass the token to
    close_text_scope to restore the enclosing scope."""
    return _TEXT_SPEC.set(None)


def close_text_scope(token: contextvars.Token) -> None:
    _TEXT_SPEC.reset(token)


def _qlit(v: Any) -> Column:
    """Literal in query position: plain value or an ext-JSON literal
    form ({"$date": ...} etc., as Mongo-shell-authored configs carry)."""
    if isinstance(v, dict):
        lit = extjson_literal(v)
        if lit is not None:
            return lit
        raise PipelineCompileError(f"unsupported literal: {v}")
    return F.lit(v)


def _in_clause(col: Column, values: list[Any]) -> Column:
    non_null = [v for v in values if v is not None]
    clause = (
        col.isin([v for v in non_null if not isinstance(v, dict)])
        if non_null and not any(isinstance(v, dict) for v in non_null)
        else None
    )
    if clause is None and non_null:
        eqs = [col.eqNullSafe(_qlit(v)) for v in non_null]
        clause = eqs[0]
        for e in eqs[1:]:
            clause = clause | e
    if clause is None:
        clause = F.lit(False)
    if any(v is None for v in values):
        clause = col.isNull() | clause
    return clause


def _bit_mask(val: Any) -> int:
    """$bits* mask argument: a numeric bitmask or a list of bit positions."""
    if isinstance(val, int) and not isinstance(val, bool):
        return val
    if isinstance(val, list):
        return sum(1 << int(p) for p in val)
    raise PipelineCompileError(f"unsupported bitmask argument: {val!r}")


_TYPE_ALIASES: dict[str, tuple[str, ...]] = {
    # Mongo $type alias -> matching Spark simpleString prefixes
    "double": ("double", "float"),
    "string": ("string",),
    "int": ("int", "smallint", "tinyint"),
    "long": ("bigint",),
    "bool": ("boolean",),
    "date": ("timestamp", "timestamp_ntz", "date"),
    "array": ("array",),
    "object": ("struct", "map"),
    "binData": ("binary",),
    "decimal": ("decimal",),
}


def _type_pred(col: Column, field: str, val: Any, df: DataFrame | None) -> Column:
    """{f: {$type: alias}} constant-folds against the declared schema
    (SURVEY §2.B: '$type … schema-known: constant-fold'). A field of the
    matching type matches when present (non-null); 'null' matches null."""
    from route81_spark.pipeline.exprs import _field_dtype

    aliases = val if isinstance(val, list) else [val]
    dt = _field_dtype("$" + field, df)
    if dt is None:
        raise PipelineCompileError(f"$type needs a schema-known field: {field}")
    simple = dt.simpleString()
    out: Column | None = None
    for alias in aliases:
        if alias == "null":
            p = col.isNull()
        elif alias == "number":
            p = (
                col.isNotNull()
                if simple.startswith(("double", "float", "int", "bigint", "smallint", "tinyint", "decimal"))
                else F.lit(False)
            )
        elif alias in _TYPE_ALIASES:
            p = col.isNotNull() if simple.startswith(_TYPE_ALIASES[alias]) else F.lit(False)
        else:
            raise PipelineCompileError(f"unsupported $type alias: {alias}")
        out = p if out is None else (out | p)
    return out


def _geo_within(col: Column, shape: dict) -> Column:
    """$geoWithin over a legacy coordinate-pair field [lon, lat]
    ($box / $center planar, $centerSphere great-circle radians —
    the same spherical model as the $geoNear stage)."""
    lon, lat = F.get(col, 0).cast("double"), F.get(col, 1).cast("double")
    if "$box" in shape:
        (x1, y1), (x2, y2) = shape["$box"]
        return (
            (lon >= min(x1, x2)) & (lon <= max(x1, x2))
            & (lat >= min(y1, y2)) & (lat <= max(y1, y2))
        )
    if "$center" in shape:
        (cx, cy), r = shape["$center"]
        dx, dy = lon - cx, lat - cy
        return (dx * dx + dy * dy) <= float(r) ** 2
    if "$centerSphere" in shape:
        (cx, cy), r = shape["$centerSphere"]
        lat1, lon1 = F.radians(F.lit(float(cy))), F.radians(F.lit(float(cx)))
        lat2, lon2 = F.radians(lat), F.radians(lon)
        dlat, dlon = lat2 - lat1, lon2 - lon1
        a = (
            F.sin(dlat / 2) * F.sin(dlat / 2)
            + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
        )
        central = 2 * F.asin(F.sqrt(a))  # angular distance in radians
        return central <= float(r)
    raise PipelineCompileError(f"unsupported $geoWithin shape: {list(shape)}")


def _field_pred(field: str, spec: Any, df: DataFrame | None) -> Column:
    col = F.col(field)
    if isinstance(spec, dict) and any(k.startswith("$") for k in spec):
        lit = extjson_literal(spec)
        if lit is not None:
            return col == lit  # equality against an ext-JSON literal
        preds: list[Column] = []
        for op, val in spec.items():
            if op == "$eq":
                preds.append(col.isNull() if val is None else col == _qlit(val))
            elif op == "$ne":
                preds.append(~col.eqNullSafe(_qlit(val)))
            elif op == "$gt":
                preds.append(col > _qlit(val))
            elif op == "$gte":
                preds.append(col >= _qlit(val))
            elif op == "$lt":
                preds.append(col < _qlit(val))
            elif op == "$lte":
                preds.append(col <= _qlit(val))
            elif op == "$in":
                preds.append(_in_clause(col, val))
            elif op == "$nin":
                preds.append(~F.coalesce(_in_clause(col, val), F.lit(False)))
            elif op == "$exists":
                preds.append(col.isNotNull() if val else col.isNull())
            elif op == "$regex":
                pattern = val
                opts = spec.get("$options", "")
                if "i" in opts:
                    pattern = f"(?i){pattern}"
                preds.append(col.rlike(pattern))
            elif op == "$options":
                continue  # consumed by $regex
            elif op == "$mod":
                d, r = val
                preds.append(col % F.lit(d) == F.lit(r))
            elif op == "$size":
                preds.append(F.size(col) == F.lit(val))
            elif op == "$all":
                sub = [F.array_contains(col, v) for v in val]
                p = sub[0]
                for s in sub[1:]:
                    p = p & s
                preds.append(p)
            elif op == "$elemMatch":
                preds.append(F.exists(col, lambda x: _elem_pred(x, val)))
            elif op == "$not":
                inner = _field_pred(field, val, df)
                preds.append(~F.coalesce(inner, F.lit(False)))
            elif op in ("$bitsAllSet", "$bitsAnySet", "$bitsAllClear", "$bitsAnyClear"):
                m = F.lit(_bit_mask(val))
                masked = col.cast("long").bitwiseAND(m)
                preds.append(
                    {
                        "$bitsAllSet": masked == m,
                        "$bitsAnySet": masked != 0,
                        "$bitsAllClear": masked == 0,
                        "$bitsAnyClear": masked != m,
                    }[op]
                )
            elif op == "$type":
                preds.append(_type_pred(col, field, val, df))
            elif op == "$geoWithin":
                preds.append(_geo_within(col, val))
            else:
                raise PipelineCompileError(f"unsupported query operator: {op}")
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if isinstance(spec, re.Pattern):
        return col.rlike(spec.pattern)
    # bare equality
    if spec is None:
        return col.isNull()
    if isinstance(spec, dict):
        # equality against an embedded document -> struct literal compare
        return col.eqNullSafe(compile_expr(spec, df))
    return col == F.lit(spec)


def _elem_pred(x: Column, spec: Any) -> Column:
    """$elemMatch condition applied to an array element lambda variable."""
    if isinstance(spec, dict) and any(k.startswith("$") for k in spec):
        preds = []
        for op, val in spec.items():
            lit = F.lit(val)
            if op == "$eq":
                preds.append(x.eqNullSafe(lit))
            elif op == "$ne":
                preds.append(~x.eqNullSafe(lit))
            elif op == "$gt":
                preds.append(x > lit)
            elif op == "$gte":
                preds.append(x >= lit)
            elif op == "$lt":
                preds.append(x < lit)
            elif op == "$lte":
                preds.append(x <= lit)
            elif op == "$in":
                preds.append(_in_clause(x, val))
            else:
                raise PipelineCompileError(f"unsupported $elemMatch operator: {op}")
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    # equality on nested field specs: {field: value} against struct elements
    if isinstance(spec, dict):
        preds = [x.getField(k).eqNullSafe(F.lit(v)) for k, v in spec.items()]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    return x.eqNullSafe(F.lit(spec))


def _expand_text_wildcard(spec, df: DataFrame | None):
    """{fields: "$**"} — the wildcard text-index analog of Mongo's
    createIndex({"$**": "text"}): every string field of the input at
    weight 1, DESCENDING into struct children as dotted paths (r10 —
    Mongo's wildcard text index indexes nested document string fields
    the same way; arrays/maps are not descended, documented subset).
    The languageOverride column is EXCLUDED, matching Mongo, which
    never text-indexes the language_override field — otherwise a doc
    whose lang value contains a query term would spuriously match.
    Expanded at $match compile time, where the schema is in hand, into
    the concrete {column: 1} form so the recorded spec serves
    textScore too."""
    if not isinstance(spec, dict) or spec.get("fields") != "$**":
        return spec
    if df is None:
        raise PipelineCompileError(
            "$text: fields '$**' requires schema context (compile the "
            "pipeline against a DataFrame)"
        )
    from pyspark.sql import types as T

    def walk(prefix: str, dtype):
        if isinstance(dtype, T.StringType):
            yield prefix
        elif isinstance(dtype, T.StructType):
            for f in dtype.fields:
                yield from walk(f"{prefix}.{f.name}", f.dataType)

    skip = spec.get("languageOverride")
    cols = {
        path: 1
        for f in df.schema.fields if f.name != skip
        for path in walk(f.name, f.dataType)
    }
    if not cols:
        raise PipelineCompileError(
            "$text: fields '$**' found no string columns to search"
        )
    out = dict(spec)
    out["fields"] = cols
    return out


def compile_match(query: dict, df: DataFrame | None = None) -> Column:
    """Compile a $match query document into one boolean Column."""
    preds: list[Column] = []
    for key, val in query.items():
        if key == "$and":
            sub = [compile_match(q, df) for q in val]
            p = sub[0]
            for s in sub[1:]:
                p = p & s
            preds.append(p)
        elif key == "$or":
            sub = [compile_match(q, df) for q in val]
            p = sub[0]
            for s in sub[1:]:
                p = p | s
            preds.append(p)
        elif key == "$nor":
            sub = [F.coalesce(compile_match(q, df), F.lit(False)) for q in val]
            p = sub[0]
            for s in sub[1:]:
                p = p | s
            preds.append(~p)
        elif key == "$expr":
            preds.append(F.coalesce(compile_expr(val, df).cast("boolean"), F.lit(False)))
        elif key == "$comment":
            continue  # server-side annotation; no predicate
        elif key == "$sampleRate":
            # random per-document inclusion; seeded for reproducibility
            # within a plan (no oracle — nondeterministic by contract)
            preds.append(F.rand(42) < float(val))
        elif key == "$text":
            # documented engine subset (see module header); record the
            # spec in the pipeline-scoped context so a later {$meta:
            # "textScore"} in THIS pipeline can compile the score. The
            # '$**' wildcard-index form expands HERE (schema in hand)
            # so the recorded spec is already concrete for textScore.
            val = _expand_text_wildcard(val, df)
            _TEXT_SPEC.set(val)
            preds.append(compile_text(val))
        elif key in ("$where", "$jsonSchema"):
            raise PipelineCompileError(
                f"{key} is out of scope (server-only feature; SURVEY §2.B)"
            )
        elif key.startswith("$"):
            raise PipelineCompileError(f"unsupported top-level query operator: {key}")
        else:
            preds.append(_field_pred(key, val, df))
    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out
