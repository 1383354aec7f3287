"""Seeded input for the ``news_ingest`` workload.

Nine news sources each publish one politics link page. ``SeededFetcher``
is a pure function of (seed, URL): it renders an article page in the
markup ``sources.scrape.fixture_parser`` reads. Pages carry multi-author
bylines, author names the validator scrubs, obfuscated e-mail addresses
the extractor cannot match, and missing titles, dates, descriptions and
bodies.

``expected_counts`` derives the mart row counts from the generated
article records in plain Python, by the rules the reference's dbt
models state (validation, author scrub, e-mail backfill per author and
source, source exclusion, surrogate-key grain), without Spark.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

SOURCES = [
    ("cbc", "https://www.cbc.ca"),
    ("ctv", "https://www.ctvnews.ca"),
    ("global_news", "https://globalnews.ca"),
    ("globe_and_mail", "https://www.theglobeandmail.com"),
    ("national_post", "https://nationalpost.com"),
    ("ottawa_citizen", "https://ottawacitizen.com"),
    ("toronto_star", "https://www.thestar.com"),
    ("vancouver_sun", "https://vancouversun.com"),
    ("montreal_gazette", "https://montrealgazette.com"),
]
# plans.models.transformed drops these sources (the reference's NO_TS step)
EXCLUDED_SOURCES = ("toronto_star", "cbc")
RUN_TS = "2025-01-01 00:00:00"

FIRST = ["Ann", "Bob", "Cai", "Dana", "Eli", "Fay", "Gus", "Hana", "Ivan", "Joé",
         "Kim", "Lea", "Marc", "Nora", "Omar", "Pia", "Raj", "Sara", "Tom", "Uma"]
LAST = ["Smith", "Tremblay", "Wong", "Roy", "Singh", "Gagnon", "Brown", "Lee",
        "Martin", "O'Neil", "Côté", "Patel", "Chen", "Ward", "Fraser", "Hall"]
INVALID_AUTHORS = ["Staff 24", "J0hn Doe", "Wire/Service", "Reporter #3"]
MONTHS = ["Jan", "Feb", "Mar"]
WORDS = ("budget vote house leader party election poll minister bill senate "
         "tax housing rate bank trade deal court ruling premier riding caucus "
         "debate motion committee report federal provincial campaign").split()
LEAD = "Live updates as the story develops across the country today "

# validation and cleaning rules, restated from the reference models
AUTHOR_NAME_RE = re.compile(r"^[A-Za-zÀ-ÖØ-öø-ÿ'\.+ -]+$")
PUNCT_RE = re.compile(r"[!-/:-@\[-`{-~]")


@dataclass(frozen=True)
class Article:
    title: str | None
    description: str | None
    date: str | None
    authors: tuple[str, ...]
    email: str | None  # the first address an extractor can match, if any
    paragraphs: tuple[str, ...]

    def html(self) -> str:
        parts = []
        if self.title is not None:
            parts.append(f"<h1>{self.title}</h1>")
        if self.description is not None:
            parts.append(f'<meta name="description" content="{self.description}">')
        if self.date is not None:
            parts.append(f"<time>{self.date}</time>")
        if self.authors:
            parts.append(f"<address>{', '.join(self.authors)}</address>")
        parts.extend(f"<p>{p}</p>" for p in self.paragraphs)
        return "\n".join(parts)

    def content(self) -> str | None:
        return " ".join(p.strip() for p in self.paragraphs) if self.paragraphs else None


def _person(rng: random.Random) -> str:
    return f"{rng.choice(FIRST)} {rng.choice(LAST)}"


def _mailbox(name: str) -> str:
    ascii_name = name.lower().replace("é", "e").replace("ô", "o").replace("'", "")
    return ascii_name.replace(" ", ".")


def article(seed: int, source: str, url: str) -> Article:
    """The article behind ``url``: a pure function of (seed, URL)."""
    rng = random.Random(f"{seed}|{url}")
    serial = url.rsplit("-", 1)[-1]
    title = None if rng.random() < 0.03 else (
        f"{rng.choice(WORDS).title()} {rng.choice(WORDS)} {rng.choice(WORDS)} {serial}"
    )
    description = None if rng.random() < 0.1 else f"{rng.choice(WORDS)} summary {serial}"
    date = None if rng.random() < 0.04 else (
        f"{rng.choice(MONTHS)} {rng.randint(1, 28)}, 2024"
    )
    r = rng.random()
    if r < 0.04:
        authors: tuple[str, ...] = ()
    else:
        names = [_person(rng) for _ in range(rng.choice([1, 1, 1, 2, 2, 3]))]
        if r < 0.09:
            names[0] = rng.choice(INVALID_AUTHORS)
        elif r < 0.11:
            names[0] = "www.facebook.com"
        authors = tuple(names)
    paragraphs: list[str] = []
    email = None
    if rng.random() >= 0.03:
        lead = LEAD if rng.random() < 0.05 else ""
        for _ in range(rng.randint(2, 5)):
            n = rng.randint(12, 40)
            paragraphs.append(" ".join(rng.choice(WORDS) for _ in range(n)) + ".")
        paragraphs[0] = f"{lead}{serial} {paragraphs[0]}"
        contact = rng.random()
        named = authors and AUTHOR_NAME_RE.match(authors[0]) and "." not in authors[0]
        who = _mailbox(authors[0] if named else _person(rng))
        if contact < 0.8:
            email = f"{who}@{source}.ca"
            paragraphs.append(f"Reach the newsroom at {email} for comment.")
        elif contact < 0.9:
            paragraphs.append(f"Reach {who} at {source} dot ca.")
    return Article(title, description, date, authors, email, tuple(paragraphs))


def link_page(seed: int, source: str, base_url: str, n_articles: int) -> str:
    """A politics index page: ``n_articles`` politics links in page
    order, plus off-topic links, repeated links and absolute links."""
    rng = random.Random(f"{seed}|{source}|index")
    anchors = []
    for j in range(n_articles):
        path = f"/politics/{source}-story-{j:06d}"
        href = f"{base_url}{path}" if rng.random() < 0.2 else path
        anchors.append(f'<a href="{href}">story {j}</a>')
        if rng.random() < 0.1:
            anchors.append(f'<a href="/sports/{source}-match-{j}">match</a>')
        if rng.random() < 0.05:
            anchors.append(f'<a href="{path}">again</a>')
    return "<html><body>" + "\n".join(anchors) + "</body></html>"


def article_urls(source: str, base_url: str, n_articles: int) -> list[str]:
    return [f"{base_url}/politics/{source}-story-{j:06d}" for j in range(n_articles)]


class SeededFetcher:
    """Fetcher plugin: URL -> article HTML, deterministic per seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.by_base = {base: name for name, base in SOURCES}

    def __call__(self, url: str) -> str:
        for base, name in self.by_base.items():
            if url.startswith(base + "/"):
                return article(self.seed, name, url).html()
        return ""


def _content_clean(content: str | None) -> str | None:
    if content is None:
        return None
    return PUNCT_RE.sub("", content)[:50].lower()


def expected_counts(seed: int, n_articles: int) -> dict[str, int]:
    """Row counts of the news marts, derived without Spark."""
    rows = []  # (source, author, email, title, content_clean)
    for source, base in SOURCES:
        for url in article_urls(source, base, n_articles):
            a = article(seed, source, url)
            if a.title is None or a.date is None:
                continue  # rejected by validation: title / publishedat not null
            for author in a.authors or (None,):
                if author is None or not AUTHOR_NAME_RE.match(author):
                    continue  # scrubbed to NULL, then dropped by the author filter
                if author == "www.facebook.com":
                    continue
                rows.append((source, author.strip(" "), a.email, a.title,
                             _content_clean(a.content())))
    backfill: dict[tuple[str, str], str] = {}
    for source, author, email, _, _ in rows:
        if email is not None:
            key = (author, source)
            backfill[key] = max(backfill.get(key, email), email)
    articles, authors, sources, bridge = set(), set(), set(), set()
    for source, author, email, title, clean in rows:
        if source in EXCLUDED_SOURCES:
            continue
        email = email if email is not None else backfill.get((author, source))
        parts = author.split(" ")
        first, last = parts[0], (parts[1] if len(parts) > 1 else "")
        articles.add((source, clean))
        authors.add((first, last, email))
        sources.add(source)
        bridge.add((first, last, email, source, title, clean))
    return {
        "articles": len(articles),
        "authors": len(authors),
        "sources": len(sources),
        "article_author_join_table": len(bridge),
        "sentiment": len(articles),
    }
