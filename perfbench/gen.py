"""Seeded input generators for the benchmark.

Three input families, each a pure function of (seed, size):

* ``tables``  -- TPC-H-style region/nation/customer/supplier/part/orders/
  lineitem plus an ``events`` stream, in the column shapes the engine's
  ``Tables`` loaders and oracle SQL expect;
* ``corpus``  -- ``documents`` and ``embeddings`` with a stated share of
  perturbed near-duplicates (token edits / small vector noise), so the
  dedup operators see real near-duplicate structure rather than
  byte-identical replicas;
* ``jobs``    -- raw job listings in the JSearch JSON shape: Zipf-skewed
  employers, a share of re-posted listings, relative-time
  ``job_posted_at`` strings (including "yesterday") and a fixed number of
  planted skills per description. Field values follow the reference
  shapes in FIXTURES.md section 1; the shares and sizes are chosen, not
  measured (see ``gen_jobs``).

The same seed gives byte-identical files; every random draw goes through
one ``numpy.random.Generator`` per family, seeded from (seed, family).
``expected_star`` derives the star's row counts from the generated rows
with the reference's substring skill rule, independently of the engine.
"""
import datetime as dt
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAMILY_SALT = {"tables": 11, "corpus": 23, "jobs": 37}


def rng_for(seed, family, part=0):
    return np.random.default_rng([seed, FAMILY_SALT[family], part])


def write_parquet(table, path):
    # No dictionary/statistics choices left to defaults that could vary:
    # one row group, snappy, fixed writer options.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   use_dictionary=True, write_statistics=True)


def round2(x):
    return np.round(x, 2)


# ---------------------------------------------------------------------------
# TPC-H-style tables and events
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
OBJECTS = ["bolt", "ring", "widget", "gear", "spring", "valve", "plate", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def gen_tables(out_dir, seed, n_orders):
    """TPC-H-shaped tables at ~``n_orders`` orders (4 lineitems each) and
    an events stream of the same order of magnitude."""
    r = rng_for(seed, "tables")
    n_cust = max(50, n_orders // 10)
    n_part = max(60, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)
    n_line = n_orders * 4
    n_events = max(1000, n_orders * 2 // 3)
    n_users = max(20, n_events // 60)

    tabs = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(round2(r.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(round2(r.uniform(-999.99, 9999.99, n_supp)))})
    names = [f"{c} {o}" for c in COLORS for o in OBJECTS]
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [names[i] for i in r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in r.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            round2(900.0 + (np.arange(n_part) % 1000) * 0.1))})
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders)),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_orders)],
        "o_totalprice": pa.array(round2(r.uniform(1000.0, 500000.0, n_orders))),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, r, n_orders)),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_orders)]})
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(round2(r.uniform(900.0, 105000.0, n_line))),
        "l_discount": pa.array(round2(r.integers(0, 11, n_line) / 100.0)),
        "l_tax": pa.array(round2(r.integers(0, 9, n_line) / 100.0)),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days("1995-01-02", 2498, r, n_line))})
    # Events: 30 days, microsecond timestamps, sorted by time.
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n_events))
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, n_users, n_events)),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_events)],
        "value": pa.array(round2(r.uniform(0.01, 490.0, n_events))),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_events)]})
    for name, t in tabs.items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tabs.items()}


# ---------------------------------------------------------------------------
# Corpus: documents + embeddings with perturbed near-duplicates
# ---------------------------------------------------------------------------

WORDS = ("a the data table row column key value part line order customer "
         "query scan join filter sort merge hash group agg window stream "
         "batch spark vector fast slow big small").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMB_DIM = 64


def _perturb_tokens(toks, r):
    """1-3 token edits (substitute / insert / delete); never a no-op."""
    out = list(toks)
    for _ in range(int(r.integers(1, 4))):
        op = int(r.integers(0, 3))
        i = int(r.integers(0, len(out)))
        if op == 0:
            w = WORDS[int(r.integers(0, len(WORDS)))]
            out[i] = w if w != out[i] else "edited"
        elif op == 1:
            out.insert(i, WORDS[int(r.integers(0, len(WORDS)))])
        elif len(out) > 8:
            del out[i]
        else:
            out.append("extra")
    return out


def gen_corpus(out_dir, seed, n_docs, near_dup_share, exact_dup_share):
    """``n_docs`` documents of 10-100 tokens; ``near_dup_share`` of them are
    token-edited copies of an earlier document and ``exact_dup_share``
    verbatim copies. Embeddings: one 64-d vector per document id, label
    clusters, with the same near-duplicate share as tiny-noise copies."""
    r = rng_for(seed, "corpus")
    texts, kinds = [], []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < near_dup_share:
            src = texts[int(r.integers(0, i))]
            texts.append(" ".join(_perturb_tokens(src.split(" "), r)))
            kinds.append("near")
        elif i > 10 and u < near_dup_share + exact_dup_share:
            texts.append(texts[int(r.integers(0, i))])
            kinds.append("exact")
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n)))
            kinds.append("fresh")
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    write_parquet(docs, os.path.join(out_dir, "documents.parquet"))

    centers = r.normal(0.0, 1.0, (10, EMB_DIM))
    labels = r.integers(0, 10, n_docs)
    vecs = centers[labels] * 0.1 + r.normal(0.0, 0.12, (n_docs, EMB_DIM))
    for i in range(11, n_docs):
        if r.random() < near_dup_share:
            j = int(r.integers(0, i))
            vecs[i] = vecs[j] + r.normal(0.0, 1e-3, EMB_DIM)
            labels[i] = labels[j]
    vecs = vecs.astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    write_parquet(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_docs,
            "near_dups": kinds.count("near"), "exact_dups": kinds.count("exact")}


# ---------------------------------------------------------------------------
# Job listings (JSearch raw JSON shape)
# ---------------------------------------------------------------------------

# The engine's skill vocabulary (etl.Transform.ReferenceVocab), restated so
# the expected skill pairs are computed without the engine.
REFERENCE_VOCAB = [
    "python", "java", "sql", "javascript", "react", "angular", "node.js",
    "aws", "azure", "gcp", "docker", "kubernetes", "tensorflow", "pytorch",
    "machine learning", "data science", "analytics", "excel", "tableau",
    "power bi", "c++", "c#", "php", "ruby", "go", "devops", "agile",
    "scrum", "git", "api", "rest", "graphql", "cloud", "security",
    "linux", "unix", "windows server", "networking", "database", "html",
    "css", "mongodb", "cassandra", "kafka", "spark", "hadoop", "big data",
    "etl", "data warehousing", "airflow", "dbt", "azure devops", "jira",
    "confluence"]
SKILLS_PER_LISTING = 4
TITLES = ["Data Engineer", "Senior Data Engineer", "Analytics Engineer",
          "Software Engineer", "Backend Developer", "Data Analyst",
          "Machine Learning Engineer", "Platform Engineer", "BI Developer",
          "Cloud Architect", "Site Reliability Engineer", "Data Scientist"]
PUBLISHERS = ["LinkedIn", "Indeed", "Glassdoor", "ZipRecruiter", "Dice",
              "Monster", "BeBee", "Company Website"]
# The employment-type values FIXTURES.md documents, en-dash variant
# included (it normalizes to its own dimension row).
EMP_TYPES = ["Full-time", "Part-time", "Full\u2013time", "Full-time and Part-time"]
CITIES = [("New York", "NY"), ("Austin", "TX"), ("Seattle", "WA"),
          ("Denver", "CO"), ("Boston", "MA"), ("Chicago", "IL"),
          ("Atlanta", "GA"), ("Phoenix", "AZ"), ("Portland", "OR"),
          ("Raleigh", "NC"), ("Toronto", "ON"), ("London", "LDN")]
FILLER = ("we are hiring a motivated engineer to join our team you will "
          "design build and maintain pipelines that move data between "
          "systems work with product owners and analysts to deliver "
          "reliable reports own services end to end and mentor peers "
          "benefits include health cover paid leave and a learning budget "
          "the role is hybrid with flexible hours").split()


def _listing_text(r, n_words, skills):
    words = [FILLER[i] for i in r.integers(0, len(FILLER), n_words)]
    for s in skills:
        words.insert(int(r.integers(0, len(words) + 1)), s)
    return " ".join(words)


def _relative(age_h):
    """``job_posted_at`` in the forms the reference feed carries."""
    if age_h < 24:
        return f"{age_h} hours ago"
    if age_h < 48:
        return "yesterday"
    return f"{age_h // 24} days ago"


def gen_jobs(path, seed, batch, n_rows, n_employers, repost_share, now,
             desc_words):
    """One nightly batch of ``n_rows`` raw listings as JSON lines.

    The reference's own feed is not in the repository: FIXTURES.md records
    its field shapes (20 raw records, 900 transformed rows) but no shares.
    So these knobs are chosen, and run.py states them in one place:

    * ``repost_share`` of the rows re-post an earlier listing of the batch
      verbatim (same natural key), so the landing table and fact keep
      duplicates that ``dim_job_details`` collapses;
    * employers are Zipf(1.2) over ``n_employers`` names, a skew that
      makes the top-15-employers chart non-trivial;
    * a third of the listings carry only the relative ``job_posted_at``
      with a null UTC datetime, so the relative-time parse decides their
      date; ages are uniform over 30 days, which makes "yesterday" (the
      24-47 h band, a date the engine leaves NULL) about 3 % of them;
    * every description plants ``SKILLS_PER_LISTING`` distinct vocabulary
      terms (four, as in FIXTURES.md's transformed-row example) into
      ``desc_words`` filler words;
    * the employment type is uniform over the four documented values, and
      every ``job_highlights`` object has the three documented sections."""
    r = rng_for(seed, "jobs", batch)
    zipf = 1.0 / np.arange(1, n_employers + 1) ** 1.2
    zipf /= zipf.sum()
    rows, seen = [], set()
    while len(rows) < n_rows:
        if rows and r.random() < repost_share:
            rows.append(rows[int(r.integers(0, len(rows)))])
            continue
        emp = f"Employer {int(r.choice(n_employers, p=zipf)):04d} Inc"
        city, state = CITIES[int(r.integers(0, len(CITIES)))]
        title = TITLES[int(r.integers(0, len(TITLES)))]
        publisher = PUBLISHERS[int(r.integers(0, len(PUBLISHERS)))]
        age_h = int(r.integers(1, 24 * 30))
        posted_at = _relative(age_h)
        if r.random() < 1.0 / 3.0:
            posted_utc = None
        else:
            t = now - dt.timedelta(hours=age_h,
                                   seconds=int(r.integers(0, 3600)))
            posted_utc = t.strftime("%Y-%m-%dT%H:%M:%S.000Z")
        # The engine's natural key skips a null UTC datetime, so listings
        # with only a relative time must differ in the other four fields.
        key = (title, emp, publisher, f"{city}, {state}", posted_utc)
        if key in seen:
            continue
        seen.add(key)
        picks = r.choice(len(REFERENCE_VOCAB), SKILLS_PER_LISTING, replace=False)
        skills = [REFERENCE_VOCAB[i] for i in sorted(picks)]
        desc = _listing_text(r, desc_words, skills)
        rows.append({
            "job_id": f"b{batch}-{len(seen):07d}",
            "employer_name": emp,
            "job_publisher": publisher,
            "job_employment_type": EMP_TYPES[int(r.integers(0, len(EMP_TYPES)))],
            "job_title": title,
            "job_apply_link": f"https://jobs.example/{batch}/{len(seen)}",
            "job_description": desc,
            "job_is_remote": bool(r.random() < 0.3),
            "job_posted_at": posted_at,
            "job_posted_at_datetime_utc": posted_utc,
            "job_location": f"{city}, {state}",
            "job_city": city,
            "job_state": state,
            "job_country": "CA" if state == "ON" else ("GB" if state == "LDN" else "US"),
            "job_highlights": {
                "Qualifications": [f"{int(r.integers(1, 10))}+ years"],
                "Responsibilities": ["build pipelines", "review designs"],
                "Benefits": ["health cover", "paid leave"]},
        })
    with open(path, "w", encoding="utf-8") as f:
        for row in rows:
            f.write(json.dumps(row, separators=(",", ":")) + "\n")
    return rows


def _init_cap(s):
    """Spark ``initcap(trim(s))``: lower-case, then upper-case the first
    letter after each space."""
    return " ".join(w[:1].upper() + w[1:] for w in s.strip().lower().split(" "))


def posted_date(row, now):
    """The calendar date ``JobStarBuilder`` assigns a listing: the UTC
    datetime when present, else ``now`` minus the relative offset. The
    offset is the first digit run, in hours when the text contains "hour"
    and in days when it contains "day"; without digits ("yesterday") the
    date is None, as the engine leaves it NULL."""
    if row["job_posted_at_datetime_utc"]:
        return row["job_posted_at_datetime_utc"][:10]
    text = row["job_posted_at"].strip().lower()
    digits = re.search(r"\d+", text)
    if digits is None:
        return None
    n = int(digits.group())
    if "hour" in text:
        delta = dt.timedelta(hours=n)
    elif "day" in text:
        delta = dt.timedelta(days=n)
    else:
        return None
    return (now - delta).strftime("%Y-%m-%d")


def expected_star(rows, now):
    """Star row counts and skill pairs from the generated rows alone, plus
    ``null_date_facts``: fact rows whose date resolves to no ``dim_date``
    row (a NULL ``date_sk``)."""
    skills_of = [sorted({v for v in REFERENCE_VOCAB
                         if v in r["job_description"].lower()}) for r in rows]
    distinct = {json.dumps(r, sort_keys=True) for r in rows}
    dates = [posted_date(r, now) for r in rows]
    return {
        "landing_job_listings": len(rows),
        "fact_job_postings": len(rows),
        "dim_job_details": len(distinct),
        "dim_company": len({r["employer_name"].strip().upper() for r in rows}),
        "dim_publisher": len({_init_cap(r["job_publisher"]) for r in rows}),
        "dim_employment_type": len({_init_cap(r["job_employment_type"])
                                    for r in rows}),
        "dim_location": len({r["job_location"] for r in rows}),
        "dim_date": len({d for d in dates if d is not None}),
        "dim_skill": len({_init_cap(s) for ss in skills_of for s in ss}),
        "bridge_job_skill": sum(len(ss) for ss in skills_of),
        "null_date_facts": dates.count(None),
    }
