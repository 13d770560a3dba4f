"""Static dictionaries — the analog of the reference's lib/constants.js.

The reference keeps three static tables: a namespace-URI -> canonical-prefix
dict (lib/constants.js:7-38), a list of HTML URI attributes
(lib/constants.js:41-52), and a whitelist of known HTML tags
(lib/constants.js:54-78) that drives stripHtml's "remove only known tags"
semantics (lib/utils.js:367-382).  We mirror each with a target-domain
equivalent:

- HTML_TAGS:        same role — whitelist-driven HTML stripping of noisy
                    turn text; unknown tags like <foo> and literal angle
                    brackets survive byte-identically.
- ALIAS_TABLE:      the analog of the namespace table: a small static
                    many-surface-forms -> one-canonical-form dict, applied
                    via broadcast join (SURVEY.md J1).
- RELATION_PATTERNS: the fixed extraction grammar (the analog of the fixed
                    RSS/Atom/RDF normalization rules): each pattern names a
                    predicate and captures (subject, object) entity spans.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Known-HTML-tag whitelist (standard HTML element names, public knowledge).
# Mirrors the *semantics* of the reference whitelist (lib/constants.js:54-78):
# stripping removes ONLY tags whose name appears here; anything else —
# <foo>, <<<Tutorial>>>, "1 < 2" — is preserved verbatim
# (test/angle-brackets.js in the reference suite).
# ---------------------------------------------------------------------------
HTML_TAGS = frozenset(
    """
    a abbr acronym address applet area article aside audio b base basefont
    bdi bdo big blockquote body br button canvas caption center cite code
    col colgroup data datalist dd del details dfn dialog dir div dl dt em
    embed fieldset figcaption figure font footer form frame frameset h1 h2
    h3 h4 h5 h6 head header hr html i iframe img input ins kbd label legend
    li link main map mark menu meta meter nav noframes noscript object ol
    optgroup option output p param picture pre progress q rp rt ruby s samp
    script section select small source span strike strong style sub summary
    sup table tbody td template textarea tfoot th thead time title tr track
    tt u ul var video wbr
    """.split()
)

# ---------------------------------------------------------------------------
# Static alias dictionary: surface-form key -> canonical key.
# The analog of the reference namespace table where two Atom URIs map to
# 'atom' and two media URIs map to 'media' (lib/constants.js:7-38): many
# well-known short forms collapse to one canonical entity key.  Keys are
# *normalized* forms (see normalize_entity_key).  Fuzzy variants beyond this
# table are handled by MinHash-LSH + connected components (SURVEY.md A7/A8).
# ---------------------------------------------------------------------------
ALIAS_TABLE: dict[str, str] = {
    "k8s": "kubernetes",
    "kube": "kubernetes",
    "js": "javascript",
    "ts": "typescript",
    "py": "python",
    "postgres": "postgresql",
    "pg": "postgresql",
    "es": "elasticsearch",
    "tf": "terraform",
    "gh": "github",
    "np": "numpy",
    "pd": "pandas",
    "vm": "virtual machine",
    "ml": "machine learning",
    "ai": "artificial intelligence",
    "db": "database",
    "repo": "repository",
    "config": "configuration",
    "auth": "authentication",
    "s3": "amazon s3",
    "spark": "apache spark",
    "kafka": "apache kafka",
}

# ---------------------------------------------------------------------------
# Entity grammar: an entity mention is a maximal run of capitalized tokens
# (letters/digits/+#._- after an initial capital), joined by single spaces.
# Deterministic and case-sensitive so per-turn text equality implies
# per-turn triple equality.
# ---------------------------------------------------------------------------
ENTITY_WORD = r"[A-Z][A-Za-z0-9_+\-.#]*"
ENTITY = rf"{ENTITY_WORD}(?: {ENTITY_WORD})*"

# Fixed relation grammar: (predicate, compiled pattern with 2 groups).
# The analog of the reference's fixed normalization rules: a closed set of
# wire patterns mapping onto one canonical record shape
# (lib/feedparser.js:487-834).
RELATION_PATTERNS: list[tuple[str, re.Pattern[str]]] = [
    (pred, re.compile(rf"\b({ENTITY}) {phrase} ({ENTITY})"))
    for pred, phrase in [
        ("is_a", r"is an?"),
        ("part_of", r"is part of"),
        ("uses", r"uses"),
        ("created", r"created"),
        ("runs_on", r"runs on"),
        ("depends_on", r"depends on"),
        ("connects_to", r"connects to"),
        ("maintains", r"maintains"),
    ]
]

ENTITY_RE = re.compile(rf"\b{ENTITY}\b")

# Scores carried on emitted triples (used by the link-score histogram in the
# metrics table — the analog of the reference's errors side channel,
# lib/feedparser.js:125).
SCORE_PATTERN = 1.0     # triple matched an explicit relation pattern
SCORE_TOOL = 0.9        # triple derived from a tool invocation
SCORE_MENTION = 0.5     # bare entity mention

# Mojibake markers: characters whose presence flags UTF-8 bytes mistakenly
# decoded as latin-1/cp1252 (the analog of the reference's iconv.xml
# windows-1251 fixture, handled upstream in examples/complete.js:37-52).
MOJIBAKE_MARKERS = ("Ã", "Â", "â", "ï¿")
