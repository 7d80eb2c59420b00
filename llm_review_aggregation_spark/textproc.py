"""Pure-Python text primitives shared by the Spark pandas UDFs and the
driver-side test oracle.

Everything here is deterministic, dependency-free (stdlib only) and
vectorization-friendly: each function maps one string/token-list; the
UDF layer (functions/*.py) applies them over Arrow batches.

Behavioral contracts mirror the reference pipeline (citations into
/root/reference; see SURVEY.md §2):

- ``clean_text``      = strip html -> keep [a-zA-Z0-9\\s.,!?;:"'] -> NFKD
  ascii fold -> lower                    (src/data/base_load_preprocess.py:10-32)
- ``sent_tokenize`` / ``word_tokenize``: from-scratch regex tokenizers (the
  reference uses NLTK punkt/treebank, unavailable here; the engine defines
  its own deterministic tokenizers and uses them consistently on both the
  distributed and the oracle path)
- ``pos_tag_simple``: rule-based tagger standing in for nltk.pos_tag
  (ontology_bert/helpers.py uses NN/JJ/IN tags only)
- phrase mining scoring: gensim-Phrases-style
  ``(count_ab - min_count) * vocab_size / (count_a * count_b) >= threshold``
  (ontology_bert/phrase_tokenizer.py:29-35, PHRASE_THRESHOLD=4)
- mention mining (``mine_entity_instance``/``mine_relation_instance``):
  word-token restatement of ontology_bert/helpers.py:10-157 / 267-420
  (the reference operates on WordPiece tokens; this engine operates on word
  tokens — same mention semantics at word granularity)
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Callable
from dataclasses import dataclass
from html.parser import HTMLParser

# --------------------------------------------------------------------------
# E1: HTML -> clean text
# --------------------------------------------------------------------------

_SKIP_CONTENT_TAGS = {"script", "style", "template"}


class _TextExtractor(HTMLParser):
    """Concatenates text nodes, skipping script/style — the behavior of an
    html.parser-backed soup ``get_text()`` for well-formed markup."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_CONTENT_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_CONTENT_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0:
            self._chunks.append(data)

    def text(self) -> str:
        return "".join(self._chunks)


def html_to_text(html: str) -> str:
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.text()


_SPECIAL_RE = re.compile(r"[^a-zA-Z0-9\s.,!?;:\"']")


def remove_special_characters(text: str) -> str:
    return _SPECIAL_RE.sub("", text)


def nfkd_ascii(text: str) -> str:
    return (
        unicodedata.normalize("NFKD", text)
        .encode("ascii", "ignore")
        .decode("utf-8", "ignore")
    )


def clean_text(html: str | bytes) -> str:
    """The byte-stable E1 contract (base_load_preprocess.py:26-32)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", "replace")
    out = html_to_text(html)
    out = remove_special_characters(out)
    out = nfkd_ascii(out)
    return out.lower()


# --------------------------------------------------------------------------
# E2: tokenization
# --------------------------------------------------------------------------

_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
_WORD_RE = re.compile(r"[a-zA-Z0-9]+(?:'[a-zA-Z]+)?|[^\w\s]")


def _sent_tokenize_simple(text: str) -> list[str]:
    """Sentence split on terminal punctuation + per-line split (the reference
    runs punkt then str.splitlines: phrase_tokenizer.py:22-24)."""
    out: list[str] = []
    for seg in _SENT_SPLIT_RE.split(text):
        for line in seg.splitlines():
            line = line.strip()
            if line:
                out.append(line)
    return out


def filter_underscore(text: str) -> str:
    return text.replace("_", " ").lower()


def _word_tokenize_simple(text: str) -> list[str]:
    return _WORD_RE.findall(text)


# --------------------------------------------------------------------------
# Pluggable tokenizer backend (NLTK parity seam)
#
# The reference tokenizes with NLTK punkt / treebank / pos_tag
# (phrase_tokenizer.py:17-27, helpers.py:160-202); this engine ships
# hermetic from-scratch equivalents as the default so CI has no model-data
# deps, and exposes a seam to drop NLTK (or anything else) in where it is
# installed. Swapping is closure-safe for Spark: the UDF factories in
# functions/tokenize.py and functions/mining.py capture current_backend()
# at plan-build time on the driver and re-install it inside the Python
# worker, so a driver-side set_tokenizer_backend() call reaches executors
# (a bare module global would not survive the worker's re-import).
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class TokenizerBackend:
    name: str
    sent_tokenize: Callable[[str], list[str]]
    word_tokenize: Callable[[str], list[str]]
    pos_tag: Callable[[list[str]], list[str]]  # -> one Penn-style tag per token
    # True iff pos_tag tags each token independently of its neighbors: the
    # mining hot loops then tag ONLY the mention pseudo-token instead of the
    # whole sentence (identical result by definition; measured ~25% of the
    # relation-mining kernel). Context-sensitive taggers (NLTK) keep the
    # full-sentence call.
    pos_context_free: bool = False


def _simple_backend() -> "TokenizerBackend":
    return TokenizerBackend(
        "simple", _sent_tokenize_simple, _word_tokenize_simple,
        lambda toks: pos_tag_simple(toks), pos_context_free=True,
    )


def nltk_backend() -> "TokenizerBackend":
    """NLTK punkt + treebank + pos_tag, matching the reference's stack.
    Raises NotImplementedError when nltk (or its model data) is absent —
    CI keeps the hermetic default."""
    try:
        from nltk import pos_tag as _nltk_pos_tag
        from nltk.tokenize import sent_tokenize as _nltk_sent
        from nltk.tokenize import word_tokenize as _nltk_word

        _nltk_word("probe sentence")  # force punkt/treebank data load
        _nltk_pos_tag(["probe"])
    except Exception as exc:  # pragma: no cover - nltk absent in sandbox
        raise NotImplementedError(
            "nltk backend needs `pip install nltk` plus punkt/averaged_perceptron "
            "data on driver and executors; using the built-in tokenizers instead"
        ) from exc
    return TokenizerBackend(  # pragma: no cover
        "nltk",
        _nltk_sent,
        _nltk_word,
        lambda toks: [t for _, t in _nltk_pos_tag(list(toks))],
    )


_BACKEND: TokenizerBackend | None = None


def current_backend() -> TokenizerBackend:
    global _BACKEND
    if _BACKEND is None:
        _BACKEND = _simple_backend()
    return _BACKEND


def install_backend(backend: TokenizerBackend | None) -> None:
    """Set the process-wide tokenizer backend (None -> hermetic default).
    Called by UDF generators on executors with the driver-captured backend."""
    global _BACKEND
    _BACKEND = backend


def set_tokenizer_backend(name_or_backend) -> TokenizerBackend:
    """Driver-side selection: "simple", "nltk", or a TokenizerBackend."""
    if isinstance(name_or_backend, TokenizerBackend):
        b = name_or_backend
    elif name_or_backend in (None, "simple"):
        b = _simple_backend()
    elif name_or_backend == "nltk":
        b = nltk_backend()
    else:
        raise ValueError(f"unknown tokenizer backend: {name_or_backend!r}")
    install_backend(b)
    return b


def sent_tokenize(text: str) -> list[str]:
    return current_backend().sent_tokenize(text)


def word_tokenize(text: str) -> list[str]:
    return current_backend().word_tokenize(text)


def pos_tag(tokens: list[str]) -> list[str]:
    return current_backend().pos_tag(tokens)


# --------------------------------------------------------------------------
# Rule-based POS tagging (NN / JJ / VB / IN / RB / DT / CD / PUNCT / PRP / CC)
# --------------------------------------------------------------------------

STOPWORDS = frozenset(
    """a about above after again against all am an and any are aren't as at be
because been before being below between both but by can't cannot could
couldn't did didn't do does doesn't doing don't down during each few for from
further had hadn't has hasn't have haven't having he he'd he'll he's her here
here's hers herself him himself his how how's i i'd i'll i'm i've if in into
is isn't it it's its itself let's me more most mustn't my myself no nor not of
off on once only or other ought our ours ourselves out over own same shan't
she she'd she'll she's should shouldn't so some such than that that's the
their theirs them themselves then there there's these they they'd they'll
they're they've this those through to too under until up very was wasn't we
we'd we'll we're we've were weren't what what's when when's where where's
which while who who's whom why why's with won't would wouldn't you you'd
you'll you're you've your yours yourself yourselves""".split()
)

_PREPOSITIONS = frozenset(
    """in on at by for with about against between into through during before
after above below to from up down of off over under because while although
though unless whereas despite since until""".split()
)
_DETERMINERS = frozenset("a an the this that these those some any no every each".split())
_PRONOUNS = frozenset(
    """i you he she it we they me him her us them my your his its our their
mine yours hers ours theirs myself yourself itself everyone everything
anyone anything someone something nothing nobody""".split()
)
_CONJUNCTIONS = frozenset("and or but nor so yet".split())
_AUX_VERBS = frozenset(
    """is are was were be been being am do does did done have has had having
will would shall should can could may might must""".split()
)
_COMMON_VERBS = frozenset(
    """get got make made take took go went come came comes put set use uses
used work works think thought know knew want wanted like liked love loved
hate hated buy bought say said see saw look looks looked feel felt seem
seemed keep kept break broke stop stopped start started recommend return
returned need needed impressed arrived answered promises""".split()
)
_COMMON_ADJECTIVES = frozenset(
    """good great bad poor nice fine excellent amazing awesome terrible awful
horrible best worst better worse big small large little new old cheap
expensive fast slow easy hard heavy light long short high low sharp blurry
bright dim sturdy flimsy comfortable durable reliable decent solid crisp
clear grainy responsive sluggish""".split()
)
_ADVERBS = frozenset("very really quite too also just still never always often sometimes".split())

_ADJ_SUFFIXES = ("ous", "ful", "ive", "able", "ible", "less", "ish", "est")
_VERB_SUFFIXES = ("ing",)
_PUNCT_RE = re.compile(r"^[^\w\s]+$")


def pos_tag_simple(tokens: list[str]) -> list[str]:
    """Deterministic rule-based tagger. Defaults to NN — the same bias the
    pipeline relies on (noun terms are the candidate surface). The rules
    are PER-TOKEN pure functions, so tags are memoized per worker (bounded:
    the cache clears past 64k distinct tokens) — on templated/bounded-
    vocabulary corpora tagging degenerates to dict lookups."""
    tags: list[str] = []
    cache = _TAG_CACHE
    for tok in tokens:
        tag = cache.get(tok)
        if tag is None:
            if len(cache) >= 65536:
                cache.clear()
            tag = cache[tok] = _tag_one_simple(tok)
        tags.append(tag)
    return tags


_TAG_CACHE: dict[str, str] = {}


def _tag_one_simple(tok: str) -> str:
    t = tok.lower()
    if _PUNCT_RE.match(tok):
        return "."
    if t in _DETERMINERS:
        return "DT"
    if t in _PREPOSITIONS:
        return "IN"
    if t in _PRONOUNS:
        return "PRP"
    if t in _CONJUNCTIONS:
        return "CC"
    if t in _AUX_VERBS or t in _COMMON_VERBS:
        return "VB"
    if t in _COMMON_ADJECTIVES or t.endswith(_ADJ_SUFFIXES):
        return "JJ"
    if t in _ADVERBS or (t.endswith("ly") and len(t) > 3):
        return "RB"
    if t[0].isdigit():
        return "CD"
    if t in STOPWORDS:
        return "DT"
    if t.endswith(_VERB_SUFFIXES) and len(t) > 4:
        return "VBG"
    return "NN"


def lemmatize_simple(term: str) -> str:
    """Singularize a single word (multi-word strings pass through, as
    WordNetLemmatizer does for them)."""
    if " " in term or len(term) < 4:
        return term
    if term.endswith("ies") and len(term) > 4:
        return term[:-3] + "y"
    for suf in ("ses", "xes", "zes", "ches", "shes"):
        if term.endswith(suf):
            return term[: -2]
    if term.endswith("ss"):
        return term
    if term.endswith("s"):
        return term[:-1]
    return term


# --------------------------------------------------------------------------
# E3: gensim-style phrase (collocation) mining
# --------------------------------------------------------------------------


def phrase_score(count_ab: int, count_a: int, count_b: int, vocab_size: int, min_count: int) -> float:
    """gensim original_scorer: (c_ab - min_count) * vocab / (c_a * c_b)."""
    if count_a == 0 or count_b == 0:
        return float("-inf")
    return (count_ab - min_count) * float(vocab_size) / (count_a * count_b)


def apply_phrases(tokens: list[str], phrase_pairs: set[tuple[str, str]]) -> list[str]:
    """Greedy left-to-right non-overlapping merge of scored pairs into
    "_"-joined tokens (the Phraser application semantics)."""
    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        if i + 1 < n and (tokens[i], tokens[i + 1]) in phrase_pairs:
            out.append(tokens[i] + "_" + tokens[i + 1])
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


_ALNUM_RE = re.compile(r"^\w+$")
_NN_JJ_RE = re.compile(r"NN|JJ")


def pos_filtered_ngrams(tokens: list[str], merged: list[str], tags: list[str] | None = None) -> list[str]:
    """T4 (ontology_bert/helpers.py:160-202): split a multi-word gram back
    into words unless every word tags NN/JJ; single words pass through.
    `tags` (optional) lets the caller share one pos_tag pass with
    noun_terms — the two T4/T5 kernels tag the identical token list."""
    tags = pos_tag(tokens) if tags is None else tags
    out: list[str] = []
    n = 0
    for term in merged:
        words = term.split("_")
        term_tags = tags[n : n + len(words)]
        if len(words) > 1 and any(not _NN_JJ_RE.match(tag) for tag in term_tags):
            out.extend(words)
        else:
            out.append(" ".join(words))
        n += len(words)
    return out


_PUNCT_CHARS = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")


def noun_terms(tokens: list[str], ngrams: list[str], tags: list[str] | None = None) -> list[str]:
    """T5 (ontology_bert/helpers.py:205-264): keep n-grams containing a noun
    whose words are all valid (non-IN, alphanumeric); single words must be
    nouns, non-stopword, len > 1. `tags` as in pos_filtered_ngrams."""
    tags = pos_tag(tokens) if tags is None else tags

    def is_noun(i: int) -> bool:
        w = tokens[i]
        return tags[i].startswith("NN") and w not in _PUNCT_CHARS and w not in STOPWORDS

    def is_valid(i: int) -> bool:
        return tags[i] != "IN" and bool(_ALNUM_RE.match(tokens[i]))

    out: list[str] = []
    idx = 0
    for term in ngrams:
        if " " in term:
            words = term.split(" ")
            rng = range(idx, idx + len(words))
            if any(is_noun(i) for i in rng) and all(is_valid(i) for i in rng):
                out.append(term)
            idx += len(words)
        else:
            if len(term) > 1 and is_noun(idx) and is_valid(idx):
                out.append(term)
            idx += 1
    return out


# --------------------------------------------------------------------------
# E4/E6: mention mining over word tokens
# --------------------------------------------------------------------------


def build_mention_index(entries):
    """First-token index for the mining hot loops: [(payload, seq_tokens)]
    -> {first_token: [(payload, seq_as_list, len)]} preserving the input
    order among entries that share a first token. A position i can only
    start a match whose sequence begins with tokens[i], so the per-position
    scan collapses from |entries| tuple-slice comparisons to one dict
    lookup (measured: most of the relation-mining kernel)."""
    idx: dict[str, list] = {}
    for payload, seq in entries:
        seq = list(seq)
        idx.setdefault(seq[0], []).append((payload, seq, len(seq)))
    return idx


def _mention_is_noun(tokens: list[str], s: int, e: int) -> bool:
    """POS-filter for a mention span: tag the span's joined pseudo-token in
    sentence context. Context-free backends (the default rule tagger) tag
    each token independently, so tagging just the pseudo-token is identical
    and skips re-tagging the rest of the sentence on every candidate."""
    joined_tok = " ".join(tokens[s:e]) if e - s > 1 else tokens[s]
    backend = current_backend()
    if backend.pos_context_free:
        return backend.pos_tag([joined_tok])[0].startswith("NN")
    joined = tokens[:s] + [joined_tok] + tokens[e:]
    return backend.pos_tag(joined)[s].startswith("NN")


def mine_entity_instance(
    tokens: list[str],
    entities: list[tuple[str, tuple[str, ...]]],
    index: dict | None = None,
) -> tuple[list[str], int, str] | None:
    """T7 (helpers.py:10-157) at word granularity.

    Scans for candidate-term mentions; keeps a sentence only if it has a
    single maximal mention region (nested matches collapse to the outermost;
    any second disjoint/crossing mention drops the sentence), the mention is
    a noun in context, then masks it.

    `index` (optional) is build_mention_index(entities), prebuilt once per
    Arrow batch loop by the fused miners; per-position candidates come out
    of it in the original entity rank order (only entities whose first
    token equals tokens[i] can match at i, so the skipped ones contribute
    nothing and the scan order is preserved).

    Returns (masked_tokens, mask_idx, entity) or None.
    """
    idx = index if index is not None else build_mention_index(entities)
    mention: tuple[tuple[int, int], str] | None = None
    for i, tok in enumerate(tokens):
        for ent_str, ent_list, L in idx.get(tok, ()):
            if L > 1 and tokens[i : i + L] != ent_list:
                continue
            rng = (i, i + L)
            if mention is not None:
                (s, e), _ = mention
                if rng[0] >= s and rng[1] <= e:
                    continue  # nested inside existing -> skip
                if not (rng[0] <= s and rng[1] >= e):
                    return None  # second distinct mention -> drop sentence
            mention = (rng, ent_str)
    if mention is None:
        return None
    (s, e), ent = mention
    if not _mention_is_noun(tokens, s, e):
        return None
    masked = tokens[:s] + ["[MASK]"] + tokens[e:]
    return masked, s, ent


def build_relation_index(
    concepts: list[str], syn_tokens: dict[str, list[tuple[str, ...]]]
) -> dict:
    """build_mention_index over every (concept_idx, synonym) pair — mention
    collection below is order-free (a set), so only membership matters."""
    entries = [
        (ci, syn)
        for ci, concept in enumerate(concepts)
        for syn in syn_tokens.get(concept, ())
    ]
    return build_mention_index(entries)


def mine_relation_instance(
    tokens: list[str],
    concepts: list[str],
    syn_tokens: dict[str, list[tuple[str, ...]]],
    index: dict | None = None,
) -> tuple[list[str], list[int], list[str]] | None:
    """T8 (helpers.py:267-420) at word granularity.

    Finds synset-member mentions; requires >=2, drops mentions nested in a
    different concept's mention, noun-filters, requires exactly 2 mentions
    of different concepts; masks both. Mention order pinned by span start
    (the reference iterates a set — nondeterministic; see SURVEY §7 R1).

    `index` (optional) is build_relation_index(concepts, syn_tokens),
    prebuilt once per Arrow batch loop by the fused miner.

    Returns (masked_tokens, [idx_fst, idx_snd], [concept_fst, concept_snd]).
    """
    idx = index if index is not None else build_relation_index(concepts, syn_tokens)
    mentions: set[tuple[tuple[int, int], int]] = set()
    for i, tok in enumerate(tokens):
        for ci, syn_list, L in idx.get(tok, ()):
            if L == 1 or tokens[i : i + L] == syn_list:
                mentions.add(((i, i + L), ci))
    if len(mentions) < 2:
        return None
    ms = sorted(mentions)
    ms = [
        ((s1, e1), c1)
        for (s1, e1), c1 in ms
        if not any(c1 != c2 and s1 >= s2 and e1 <= e2 for (s2, e2), c2 in ms)
    ]
    # noun filter: join each mention span into one pseudo-token, tag, keep NN
    kept: list[tuple[tuple[int, int], int]] = []
    for (s, e), ci in ms:
        if _mention_is_noun(tokens, s, e):
            kept.append(((s, e), ci))
    if len(kept) != 2 or kept[0][1] == kept[1][1]:
        return None
    kept.sort(key=lambda m: m[0])
    (s1, e1), c1 = kept[0]
    (s2, e2), c2 = kept[1]
    masked = (
        tokens[:s1]
        + ["[MASK]"]
        + tokens[e1:s2]
        + ["[MASK]"]
        + tokens[e2:]
    )
    idx1 = s1
    idx2 = s2 - (e1 - s1) + 1
    return masked, [idx1, idx2], [concepts[c1], concepts[c2]]


# --------------------------------------------------------------------------
# E7: phrase splitting + glossary matching
# --------------------------------------------------------------------------

_PHRASE_SPLIT_RE = re.compile(
    r" but | although | though | otherwise | however | unless | whereas | despite |<br />"
)
_WELL_FORMATTED_RE = re.compile(r"^[-a-zA-Z0-9();,./!?'\" ]*$")


def split_phrases(sentence: str, max_words: float) -> list[str]:
    """T6 (arg_framework/review.py:43-66)."""
    return [t for t in _PHRASE_SPLIT_RE.split(sentence) if len(t.split()) < max_words]


def is_well_formatted(phrase: str) -> bool:
    return bool(_WELL_FORMATTED_RE.match(phrase))


def matching_subsequences(sub: list[str], seq: list[str]) -> list[tuple[int, int]]:
    """arg_framework/review.py:233-250."""
    out = []
    L = len(sub)
    for i in range(len(seq)):
        if seq[i : i + L] == sub:
            out.append((i, i + L))
    return out


def match_glossary(
    tokens: list[str],
    nodes_postorder: list[str],
    parents: dict[str, str | None],
    glossary: dict[str, list[list[str]]],
) -> list[tuple[str, str, int, int]]:
    """T9 (arg_framework/review.py:138-171): match each node's synonym token
    sequences against the phrase tokens; on a node's first matching synonym,
    record all its spans and suppress the node's ancestors from further
    matching. Nodes are visited post-order (leaves first).

    Returns [(node, form, start, end)].
    """
    matches: list[tuple[str, str, int, int]] = []
    tokset = set(tokens)  # O(1) first-word guard: a synonym whose first
    pending = list(nodes_postorder)  # word is absent cannot match anywhere
    while pending:
        node = pending.pop(0)
        for syn in glossary.get(node, ()):
            if syn and syn[0] not in tokset:
                continue
            spans = matching_subsequences(syn, tokens)
            if spans:
                form = " ".join(syn)
                matches.extend((node, form, s, e) for s, e in spans)
                # suppress ancestors
                p = parents.get(node)
                while p is not None:
                    if p in pending:
                        pending.remove(p)
                    p = parents.get(p)
                break
    return matches
