"""Entity / alias / predicate dimension tables (pure literals).

These play the role of the reference's label + alias lookups
(refs_html_collection.py:209-257, utils/wikidata_utils.py:65-83) and its
property blacklist (properties_to_remove.json, wikidata_parser.py:237-238)
and bad-datatype filter (wikidata_parser.py:211-215). At production scale
these are dimension tables in the lakehouse, broadcast-joined; here they are
deterministic literals shared by the Spark pipeline and the pandas oracle.

Design notes for test coverage:
- HOT_QIDS appear in a large share of generated mentions → exercises skew
  salting.
- Some aliases map to 2+ QIDs → exercises disambiguation (popularity prior =
  lowest numeric QID wins, a deterministic stand-in for sitelink counts,
  functions.py:642-647).
- Q5/Q205 and Q9/Q209/Q309 share canonical labels → exercises
  connected-components canonicalization (incl. a 3-chain).
- Predicates include blacklisted datatypes and PIDs → filters F2/F3 remove
  real rows.
"""

from __future__ import annotations

# (qid, canonical label)
ENTITIES: list[tuple[str, str]] = [
    ("Q1", "alan turing"),
    ("Q2", "grace hopper"),
    ("Q3", "ada lovelace"),
    ("Q4", "claude shannon"),
    ("Q5", "nikola tesla"),
    ("Q6", "marie curie"),
    ("Q7", "kurt godel"),
    ("Q8", "john von neumann"),
    ("Q9", "edsger dijkstra"),
    ("Q10", "barbara liskov"),
    ("Q11", "donald knuth"),
    ("Q12", "margaret hamilton"),
    ("Q13", "tim berners lee"),
    ("Q14", "vint cerf"),
    ("Q15", "radia perlman"),
    ("Q16", "linus torvalds"),
    ("Q17", "guido van rossum"),
    ("Q18", "bjarne stroustrup"),
    ("Q19", "dennis ritchie"),
    ("Q20", "ken thompson"),
    ("Q21", "cambridge university"),
    ("Q22", "harvard university"),
    ("Q23", "mit"),
    ("Q24", "bell labs"),
    ("Q25", "princeton university"),
    ("Q26", "ibm"),
    ("Q27", "nasa"),
    ("Q28", "cern"),
    ("Q29", "intel"),
    ("Q30", "xerox parc"),
    ("Q31", "london"),
    ("Q32", "new york"),
    ("Q33", "vienna"),
    ("Q34", "budapest"),
    ("Q35", "rotterdam"),
    ("Q36", "paris"),
    ("Q37", "warsaw"),
    ("Q38", "zurich"),
    ("Q39", "helsinki"),
    ("Q40", "amsterdam"),
    # duplicates for canonicalization (same canonical label, higher QID)
    ("Q205", "nikola tesla"),
    ("Q209", "edsger dijkstra"),
    ("Q309", "edsger dijkstra"),
]

# (alias surface form, qid) — several aliases per entity; a few ambiguous.
ALIASES: list[tuple[str, str]] = [
    ("alan turing", "Q1"),
    ("turing", "Q1"),
    ("a. turing", "Q1"),
    ("grace hopper", "Q2"),
    ("hopper", "Q2"),
    ("admiral hopper", "Q2"),
    ("ada lovelace", "Q3"),
    ("lovelace", "Q3"),
    ("countess lovelace", "Q3"),
    ("claude shannon", "Q4"),
    ("shannon", "Q4"),
    ("nikola tesla", "Q5"),
    ("tesla", "Q5"),
    ("marie curie", "Q6"),
    ("curie", "Q6"),
    ("madame curie", "Q6"),
    ("kurt godel", "Q7"),
    ("godel", "Q7"),
    ("john von neumann", "Q8"),
    ("von neumann", "Q8"),
    ("edsger dijkstra", "Q9"),
    ("dijkstra", "Q9"),
    ("barbara liskov", "Q10"),
    ("liskov", "Q10"),
    ("donald knuth", "Q11"),
    ("knuth", "Q11"),
    ("margaret hamilton", "Q12"),
    ("hamilton", "Q12"),
    ("tim berners lee", "Q13"),
    ("berners lee", "Q13"),
    ("vint cerf", "Q14"),
    ("cerf", "Q14"),
    ("radia perlman", "Q15"),
    ("perlman", "Q15"),
    ("linus torvalds", "Q16"),
    ("torvalds", "Q16"),
    ("guido van rossum", "Q17"),
    ("van rossum", "Q17"),
    ("bjarne stroustrup", "Q18"),
    ("stroustrup", "Q18"),
    ("dennis ritchie", "Q19"),
    ("ritchie", "Q19"),
    ("ken thompson", "Q20"),
    ("thompson", "Q20"),
    ("cambridge university", "Q21"),
    ("cambridge", "Q21"),
    ("harvard university", "Q22"),
    ("harvard", "Q22"),
    ("mit", "Q23"),
    ("bell labs", "Q24"),
    ("the labs", "Q24"),
    ("princeton university", "Q25"),
    ("princeton", "Q25"),
    ("ibm", "Q26"),
    ("big blue", "Q26"),
    ("nasa", "Q27"),
    ("cern", "Q28"),
    ("intel", "Q29"),
    ("xerox parc", "Q30"),
    ("parc", "Q30"),
    ("london", "Q31"),
    ("new york", "Q32"),
    ("vienna", "Q33"),
    ("budapest", "Q34"),
    ("rotterdam", "Q35"),
    ("paris", "Q36"),
    ("warsaw", "Q37"),
    ("zurich", "Q38"),
    ("helsinki", "Q39"),
    ("amsterdam", "Q40"),
    # ambiguous aliases (map to 2 QIDs; disambiguation keeps lowest QID)
    ("the professor", "Q7"),
    ("the professor", "Q11"),
    ("the admiral", "Q2"),
    ("the admiral", "Q15"),
    # aliases of the duplicate entities (canonicalization folds them)
    ("n. tesla", "Q205"),
    ("e. w. dijkstra", "Q209"),
    ("ewd", "Q309"),
]

# (pid, surface pattern, canonical label, datatype)
# datatype + pid blacklists below knock some of these out (filters F2/F3).
PREDICATES: list[tuple[str, str, str, str]] = [
    ("P108", "works at", "employer", "wikibase-item"),
    ("P69", "studied at", "educated at", "wikibase-item"),
    ("P19", "was born in", "place of birth", "wikibase-item"),
    ("P20", "died in", "place of death", "wikibase-item"),
    ("P166", "received", "award received", "wikibase-item"),
    ("P800", "created", "notable work", "wikibase-item"),
    ("P463", "is a member of", "member of", "wikibase-item"),
    ("P1416", "is affiliated with", "affiliation", "wikibase-item"),
    ("P937", "worked in", "work location", "wikibase-item"),
    ("P184", "was advised by", "doctoral advisor", "wikibase-item"),
    # blacklisted datatype → dropped by filter F2 (wikidata_parser.py:211-215)
    ("P2699", "links to", "url", "url"),
    ("P214", "is identified by", "viaf id", "external-id"),
    # blacklisted property id → dropped by filter F3
    ("P31", "is an instance of", "instance of", "wikibase-item"),
]

# Reference: wikidata_parser.py:211-215
BAD_DATATYPES: list[str] = [
    "commonsMedia",
    "external-id",
    "globe-coordinate",
    "url",
    "wikibase-form",
    "geo-shape",
    "math",
    "musical-notation",
    "tabular-data",
    "wikibase-sense",
]

# Reference: properties_to_remove.json via wikidata_parser.py:237-238
BLACKLIST_PIDS: list[str] = ["P31"]

# Hot entities: the generator routes a large share of subject mentions to
# these (Zipf-ish head) so skew handling is actually exercised.
HOT_QIDS: list[str] = ["Q1", "Q2", "Q3"]

# Extra same-as seed edges beyond label equality (creates a 3-chain
# Q9-Q209-Q309 even if one label were missing).
SAME_AS_SEED: list[tuple[str, str]] = [("Q209", "Q309")]


def sitelink_count(qid: str) -> int:
    """Deterministic per-QID popularity stand-in for the reference's
    N_connected_site column (functions.py:642-647). Multiplicative hash so
    popularity order differs from numeric-QID order — a popularity-ranked
    disambiguation that silently fell back to the min-QID prior would be
    caught by the oracle."""
    n = int(qid[1:])
    # multiplier chosen so at least one ambiguous alias resolves AGAINST the
    # min-QID prior ('the professor': Q11 beats Q7, 16 > 1) while another
    # agrees with it ('the admiral': Q2 beats Q15, 58 > 31)
    return (n * 29) % 101


# (qid, n_connected_site) — the external popularity dim (reference reads it
# from a sitelinks CSV; sources/popularity.py materializes this as that CSV)
SITELINKS: list[tuple[str, int]] = [(q, sitelink_count(q)) for q, _ in ENTITIES]


def qid_num(qid: str) -> int:
    return int(qid[1:])


def popularity_key(qid: str) -> tuple[int, int]:
    """Single source of the disambiguation ranking (reference
    functions.py:642-669): sitelink count DESC, then numeric QID ASC.
    Minimize this key to pick the winner."""
    return (-sitelink_count(qid), qid_num(qid))


def resolve_alias_map() -> dict[str, str]:
    """alias → popularity-winning QID (the linker's prior). Shared by the
    datagen (evidence injection), the pandas oracle, and the DuckDB KG
    oracle; the Spark linker derives the same ranking from the external
    sitelinks CSV (sources/popularity.py) so a skew between the CSV path
    and this rule is caught by the golden suite."""
    out: dict[str, str] = {}
    for alias, qid in ALIASES:
        cur = out.get(alias)
        if cur is None or popularity_key(qid) < popularity_key(cur):
            out[alias] = qid
    return out
