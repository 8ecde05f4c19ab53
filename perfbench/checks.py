"""Output checks, run after the benchmark JVM has exited (outside every
timed region). Each returns a list of (check name, ok, detail)."""
from collections import defaultdict
from datetime import datetime, timedelta

def check_ingest(facts, truth):
    out = []
    landed = facts["landed_per_drop"]
    out.append(("ingest.landed_per_drop", landed == truth["landed_per_drop"],
                f"{landed} vs {truth['landed_per_drop']}"))
    out.append(("ingest.replayed_drop_lands_nothing", landed[truth["replay_drop"]] == 0,
                f"{landed[truth['replay_drop']]} rows"))
    ids = sorted(facts["bronze_posting_ids"])
    out.append(("ingest.bronze_is_planted_distinct", ids == truth["bronze_posting_ids"],
                f"{len(ids)} rows vs {len(truth['bronze_posting_ids'])} planted"))
    out.append(("ingest.silver_rows_equal_bronze", facts["silver_rows"] == len(ids),
                f"{facts['silver_rows']} vs {len(ids)}"))
    seen, dup, invented = set(), 0, 0
    for source, hour, n in facts["gold_rows"]:
        key = f"{source}|{hour}"
        dup += key in seen
        seen.add(key)
        invented += n > truth["gold_counts"].get(key, 0)
    out.append(("ingest.gold_hour_once", dup == 0, f"{dup} repeated (source, hour) rows"))
    out.append(("ingest.gold_counts_within_bronze", invented == 0,
                f"{invented} gold rows count more postings than bronze holds"))
    gold = {f"{s}|{h}": n for s, h, n in facts["gold_rows"]}
    closed = closed_gold_counts(truth)
    wrong = sum(gold.get(k) != n for k, n in closed.items())
    out.append(("ingest.gold_closed_hours_complete", wrong == 0,
                f"{wrong} of {len(closed)} closed (source, hour) rows missing or short, "
                f"{gold_rows_lost(facts, truth)} postings uncounted"))
    return out


def closed_gold_counts(truth):
    """The planted gold count of every (source, hour) the gold mart has
    closed: hours that end at least an hour before the newest event, so
    its one-hour watermark has passed them."""
    cut = _minus_hours(truth["max_event_time"], 2)
    return {k: n for k, n in truth["gold_counts"].items() if k.split("|")[1] < cut}


def gold_rows_lost(facts, truth):
    """Postings in a closed hour that bronze holds but no gold row counts."""
    gold = {f"{s}|{h}": n for s, h, n in facts["gold_rows"]}
    return sum(max(0, n - gold.get(k, 0)) for k, n in closed_gold_counts(truth).items())


def _minus_hours(ts, h):
    t = datetime.strptime(ts, "%Y-%m-%d %H:%M:%S") - timedelta(hours=h)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def check_corpus(facts, truth):
    groups = defaultdict(list)
    for doc, rep in facts["labels"]:
        groups[rep].append(doc)
    found = sorted(sorted(g) for g in groups.values() if len(g) > 1)
    planted = sorted(truth["clusters"])
    return [
        ("corpus.labels_cover_corpus", len(facts["labels"]) == truth["docs"],
         f"{len(facts['labels'])} labels for {truth['docs']} docs"),
        ("corpus.clusters_recovered", found == planted,
         f"{len(found)} clusters found, {len(planted)} planted"),
        ("corpus.serve_equals_in_plan", facts["serve_matches_in_plan"],
         f"{facts['served_rows']} served vs {facts['in_plan_rows']} in-plan rows"),
        ("corpus.appended_docs_served",
         facts["append_checks"] > 0 and facts["appended_docs_served"] == facts["append_checks"],
         f"{facts['appended_docs_served']} of {facts['append_checks']}"),
    ]


CHECKS = {"ingest": check_ingest, "corpus": check_corpus}
