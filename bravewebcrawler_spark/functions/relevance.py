"""Relevance pre-check: is a fetched page about the entity we wanted?

Re-expresses the reference's ``is_url_relevant_to_company``
(search_common.py:395-461) as pure column expressions (SURVEY.md §2.2 P6):

  1. normalize the entity name: lowercase, strip legal suffixes
     ``ag|gmbh|sa|sàrl`` and punctuation (F4, search_common.py:414);
  2. tokens of length > 2 (F5, :420-422);
  3. extract the page ``<title>`` (F6, :411-412);
  4. relevant if any token appears in the title or in the ``www.``-stripped
     domain — unless the title is one of the generic words (F13, :430);
  5. HTTP-error policy (:448-461): timeout → keep (benefit of the doubt),
     403/404/5xx → drop, other HTTP errors → keep, network error → drop.

P3 host-match features (:163-172, 253-269) live here too: first-token match
against the host plus no-spaces-name prefix match.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

GENERIC_TITLES = (
    "home", "welcome", "startseite", "index", "homepage", "start", "hauptseite",
    "website", "accueil", "willkommen", "site officiel",
)


def normalized_name_col(name: Column) -> Column:
    """F4: lowercase, strip legal suffixes + punctuation."""
    return F.trim(F.regexp_replace(F.lower(name), r"\s+(ag|gmbh|sa|sàrl)\b|[.,]", ""))


def name_tokens_col(name: Column) -> Column:
    """F5: tokens with length > 2 of the normalized name."""
    return F.filter(F.split(normalized_name_col(name), r"\s+"), lambda t: F.length(t) > 2)


def host_match_features(name: Column, host: Column) -> dict[str, Column]:
    """P3: the two heuristic features of the candidate shaping projection;
    ``is_ch_domain`` is reference P4, host.endswith('.ch')
    (search_common.py:168,265)."""
    main_part = F.element_at(F.split(normalized_name_col(name), r"\s+"), 1)
    no_spaces = F.regexp_replace(normalized_name_col(name), r"\s+", "")
    return {
        "company_match_in_host": F.contains(host, main_part) | F.startswith(host, no_spaces),
        "is_ch_domain": F.endswith(host, F.lit(".ch")),
    }


def is_generic_title_py(title: str) -> bool:
    """Python twin of :func:`is_generic_title_col` for the sequential oracle."""
    t = title.lower()
    return any(w in t for w in GENERIC_TITLES)


def is_generic_title_col(title: Column) -> Column:
    """F13 generic-title detector — SUBSTRING containment against the
    reference's word list (search_common.py:425-430: ``'home' in title``). In
    the reference this only skips a logging shortcut; it never decides
    relevance, so it is exposed separately from :func:`title_relevant_col`."""
    t = F.lower(title)
    hit = F.lit(False)
    for w in GENERIC_TITLES:
        hit = hit | F.contains(t, F.lit(w))
    return hit


def title_relevant_col(title: Column, name: Column, domain: Column) -> Column:
    """Core of P6: relevant iff any name token appears in the title OR the
    ``www.``-stripped domain (search_common.py:430-447). A generic title does
    NOT flip the verdict — e.g. title 'Home' with a name-matching domain is
    relevant (the engine previously hard-dropped that case; fixed to match
    the reference)."""
    toks = name_tokens_col(name)
    t = F.lower(title)
    dom = F.regexp_replace(F.lower(domain), r"^www\.", "")
    return F.exists(toks, lambda tok: F.contains(t, tok) | F.contains(dom, tok))


def fetch_error_policy_col(status: Column) -> Column:
    """P6 error policy (search_common.py:448-461) as a when/otherwise chain:
    returns the keep/drop decision for rows whose fetch did not yield HTML."""
    return (
        F.when(status == "TIMEOUT", F.lit(True))
        .when(status.isin("HTTP_403", "HTTP_404"), F.lit(False))
        .when(status.rlike("^HTTP_5"), F.lit(False))
        .when(status.rlike("^HTTP_"), F.lit(True))
        .when(status == "NETWORK_ERROR", F.lit(False))
        .otherwise(F.lit(True))
    )
