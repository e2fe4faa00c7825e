"""Trailing-window ELT inputs and the reconcile model they are checked
against.

``generate_batches`` writes Calabrio-shaped landing batches: forms with
nested sections/questions/options, contacts (two ``all_contacts_*``
files plus the QA ``contacts_*`` route), evaluations with nested form
answers and comments with an edit history.  It follows the document
shapes and planted edge cases of ``tools/gen_fixtures.py`` (empty
sections/options, duplicate contact ids across batch files, non-SCORED
states, NULL evaluator, missing ``comments`` link, re-exported
evaluation documents, empty and multi-entry histories, text with no
alphanumerics) and adds what a replay needs: every batch re-sends the
last ``window_days`` days of an upstream that keeps changing, so
batches overlap and each reconcile path does real work (re-scored and
vanished evaluations, edited and deleted comments, contacts re-sent
with edited fields, new evaluations on old contacts, form edits).

``Model`` is a plain-Python statement of what the pipeline must do with
the landed documents (forms replace, contacts insert-only,
evaluations delete-vanished + upsert, scores and comments
delete-then-insert by contact).  It reads the landed JSON, never the
program's output, so it is a second implementation to compare with.

``python3 perfbench/elt.py selfcheck [fixtures_dir]`` replays the
committed fixtures (``fixtures/`` then ``fixtures/batch2``) through the
model and compares its ``t_qa_evaluations`` with the DuckDB oracle of
the ``calabrio_pipeline_incremental`` catalog query.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os
import random
import re
import sys
import zoneinfo

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
BASE_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z
URL_PREFIX = "https://calabrio.example/recording/contact/"
_DENVER = zoneinfo.ZoneInfo("America/Denver")
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_ALNUM = re.compile(r"[0-9A-Za-z]")
_NUM = re.compile(r"[0-9]+")

# curated table -> key columns whose values must be unique
UNIQUE_KEYS = {
    "t_contacts": ("contact_id",),
    "t_qa_contacts": ("contact_id",),
    "t_qa_evaluations": ("evaluation_id",),
}


# -- generator ------------------------------------------------------------


def _forms(rng: random.Random, version: int) -> list[dict]:
    out = []
    for f in range(1, 4):
        sections = []
        for s in range(3):
            questions = []
            for q in range(3):
                options = [
                    {
                        "id": f * 10_000 + s * 1000 + q * 100 + o,
                        "label": ["Y", "N", "N/A"][o],
                        "points": [5, 0, 0][o] + (version if o == 0 else 0),
                        "type": ["ADDITIVE", "ADDITIVE", "N/A APPLICABLE"][o],
                    }
                    for o in range(3)
                ]
                if f == 2 and s == 1 and q == 2:
                    options = []  # inner flatten drops this question
                questions.append({
                    "id": f * 1000 + s * 100 + q,
                    "text": f"Question {q} of section {s}?",
                    "weight": float(1 + q + rng.randrange(3)),
                    "options": options,
                })
            if f == 3 and s == 2:
                questions = []  # inner flatten drops this section
            sections.append({
                "id": f * 100 + s,
                "name": f"Section {s} v{version}",
                "weight": round(0.2 + 0.1 * s, 2),
                "questions": questions,
            })
        out.append({"id": f, "name": f"Eval Form {f}", "sections": sections})
    return out


class _Upstream:
    """The source system's state: contacts, evaluations and comments
    that later batches re-extract, edited between extractions."""

    def __init__(self, rng: random.Random, contacts_per_day: int):
        self.rng = rng
        self.cpd = contacts_per_day
        self.contacts: dict[int, dict] = {}
        self.evals: dict[int, dict] = {}  # id -> doc (no duplicates)
        self.comments: dict[str, dict] = {}  # $ref -> doc
        self.day_of: dict[int, int] = {}  # contact id -> day
        self.next_comment = 1
        self.edits = 0

    def add_day(self, day: int) -> None:
        rng = self.rng
        for k in range(self.cpd):
            cid = 10_000 + day * self.cpd + k
            hour = 6 if k % 3 == 0 else rng.randrange(8, 22)  # 06 UTC: previous Denver day
            self.contacts[cid] = {
                "id": cid,
                "startTime": BASE_MS + day * DAY_MS + hour * HOUR_MS + rng.randrange(HOUR_MS),
                "assocCallId": f"CALL-{cid:06d}",
            }
            self.day_of[cid] = day
            for j in range(rng.choice((0, 1, 1, 1, 2))):
                self._new_eval(cid, j)

    def _new_eval(self, cid: int, j: int) -> None:
        rng = self.rng
        eid = cid * 10 + j
        form = 1 + rng.randrange(3)
        doc = {
            "id": eid,
            "qualityRef": f"/api/rest/recording/contact/{cid}",
            "evalForm": {"evalFormId": form},
            "agent": {"id": 200 + rng.randrange(40)},
            "evaluator": None if rng.random() < 0.08 else {"id": 300 + rng.randrange(12)},
            "isScoreCounted": rng.random() < 0.8,
            "evaluated": self.contacts[cid]["startTime"] + (j + 1) * HOUR_MS + rng.randrange(HOUR_MS),
            "responseState": {"text": rng.choice(("AGREED", "NONE"))},
            "state": {"text": "SCORED" if rng.random() < 0.9 else "IN_REVIEW"},
            "additiveScore": 30 + rng.randrange(40),
            "totalScore": round(50.0 + rng.randrange(200) * 0.25, 2),
            "sections": [
                {
                    "id": form * 100 + s,
                    "questions": [
                        {"id": form * 1000 + s * 100 + q,
                         "selectedOption": form * 10_000 + s * 1000 + q * 100 + rng.randrange(2)}
                        for q in range(rng.choice((0, 2, 3)) if s == 1 else 2)
                    ],
                }
                for s in range(2)
            ],
        }
        if rng.random() < 0.85:  # some evals carry no comments link
            doc["comments"] = f"/api/rest/recording/contact/{cid}/eval/{eid}/comment/"
            for _ in range(rng.choice((1, 1, 2))):
                self._new_comment(cid, eid, doc["evaluated"])
        self.evals[eid] = doc

    def _new_comment(self, cid: int, eid: int, after_ms: int) -> None:
        rng = self.rng
        m = self.next_comment
        self.next_comment += 1
        created = after_ms + rng.randrange(1, 4 * HOUR_MS)
        history = []
        if m % 3 == 0:  # multi-entry history: newest entry wins
            history = [
                {"created": created + HOUR_MS * (h + 1),
                 "commentor": {"$ref": f"/api/rest/recording/person/{400 + rng.randrange(20)}"}}
                for h in range(1 + rng.randrange(3))
            ]
            rng.shuffle(history)
        text = "…!?." if m % 11 == 0 else f"Comment {m} on eval {eid}: {rng.randrange(10**6)}"
        ref = f"/api/rest/recording/contact/{cid}/eval/{eid}/comment/{m}"
        self.comments[ref] = {
            "$ref": ref,
            "sectionFK": None if m % 4 == 0 else 100 + rng.randrange(300),
            "questionFK": None if m % 2 == 0 else 1000 + rng.randrange(3000),
            "created": created,
            "commentor": {"$ref": f"/api/rest/recording/person/{500 + m % 17}"},
            "text": text,
            "history": history,
        }

    def edit(self, days: range, n: int) -> None:
        """Upstream edits to documents inside the re-extract window."""
        rng = self.rng
        cids = sorted(c for c, d in self.day_of.items() if d in days)
        for _ in range(n):
            cid = rng.choice(cids)
            mine = sorted(e for e in self.evals if e // 10 == cid)
            self.edits += 1
            kind = rng.randrange(6)
            if kind == 0 and mine:  # re-score: matched update, evaluated_date kept
                e = self.evals[rng.choice(mine)]
                e["totalScore"] = round(50.0 + rng.randrange(200) * 0.25, 2)
                e["additiveScore"] = 30 + rng.randrange(40)
                e["evaluated"] += HOUR_MS // 2 + rng.randrange(HOUR_MS)
            elif kind == 1 and len(mine) > 1:  # evaluation vanishes upstream
                eid = mine[-1]
                del self.evals[eid]
                for ref in [r for r in self.comments if f"/eval/{eid}/" in r]:
                    del self.comments[ref]
            elif kind == 2 and max((e % 10 for e in mine), default=0) < 9:
                # a new evaluation on an old contact
                self._new_eval(cid, 1 + max((e % 10 for e in mine), default=0))
            elif kind == 3:  # contact re-sent with an edited field: insert-only keeps the first
                self.contacts[cid]["assocCallId"] = f"CALL-{cid:06d}-r{self.edits}"
            elif kind == 4:  # comment edited or deleted
                refs = sorted(r for r in self.comments if r.startswith(f"/api/rest/recording/contact/{cid}/"))
                if refs:
                    ref = rng.choice(refs)
                    if rng.random() < 0.5:
                        del self.comments[ref]
                    else:
                        self.comments[ref]["text"] = f"Comment edited {self.edits}"
            elif mine:  # state flips between SCORED and IN_REVIEW
                e = self.evals[rng.choice(mine)]
                e["state"] = {"text": "IN_REVIEW" if e["state"]["text"] == "SCORED" else "SCORED"}

    def extract(self, days: range) -> dict[str, list]:
        cids = sorted(c for c, d in self.day_of.items() if d in days)
        in_win = set(cids)
        contacts = [dict(self.contacts[c]) for c in cids]
        half = len(contacts) // 2
        evals = []
        for eid in sorted(self.evals):
            doc = self.evals[eid]
            if eid // 10 not in in_win:
                continue
            evals.append(doc)
            if eid % 13 == 0:  # an older re-export of the same evaluation: keep-latest drops it
                evals.append(dict(doc, evaluated=doc["evaluated"] - HOUR_MS, totalScore=1.0))
        return {
            # files overlap on a few ids (glob-union + in-batch dedup)
            "all_contacts_1.json": contacts[: half + 3],
            "all_contacts_2.json": contacts[half:],
            "contacts_1.json": [c for c in contacts if any(e // 10 == c["id"] for e in self.evals)],
            "fix_eval_raw.json": evals,
            "fix_comments_raw.json": [
                self.comments[r] for r in sorted(self.comments)
                if int(r.split("/")[5]) in in_win
            ],
        }


def generate_batches(
    out_dir: str,
    seed: int,
    n_batches: int = 3,
    window_days: int = 6,
    contacts_per_day: int = 100,
    edits_per_batch: int = 80,
) -> list[str]:
    """Write ``n_batches`` landing dirs under ``out_dir``; batch ``b``
    re-extracts days ``[b, b + window_days)`` after a day of upstream
    edits.  Returns the landing dirs in replay order."""
    rng = random.Random(seed)
    up = _Upstream(rng, contacts_per_day)
    for day in range(window_days):
        up.add_day(day)
    dirs = []
    for b in range(n_batches):
        days = range(b, b + window_days)
        if b:
            up.add_day(b + window_days - 1)
            up.edit(days, edits_per_batch)
        files = dict(up.extract(days), **{"forms.json": _forms(rng, b)})
        d = os.path.join(out_dir, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        for name, docs in files.items():
            with open(os.path.join(d, name), "w") as f:
                json.dump(docs, f)
        dirs.append(d)
    return dirs


def landed_bytes(landing_dir: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(landing_dir) if e.is_file())


# -- reconcile model ------------------------------------------------------


def denver(ms: int | None):
    """Epoch ms -> naive America/Denver wall time (the curated tables'
    TIMESTAMP_NTZ)."""
    if ms is None:
        return None
    t = _EPOCH + _dt.timedelta(milliseconds=ms)
    return t.astimezone(_DENVER).replace(tzinfo=None)


def _num(s: str | None, occurrence: int = 1):
    if s is None:
        return None
    found = _NUM.findall(s)
    return int(found[occurrence - 1]) if len(found) >= occurrence else None


def _trailing_num(s: str | None):
    m = re.search(r"[0-9]+$", s or "")
    return int(m.group(0)) if m else None


def _load(landing_dir: str, pattern: str) -> list[dict] | None:
    files = sorted(glob.glob(os.path.join(landing_dir, pattern)))
    if not files:
        return None
    docs = []
    for p in files:
        with open(p) as f:
            docs.extend(json.load(f))
    return docs


def _get(d: dict | None, *path):
    for k in path:
        if d is None:
            return None
        d = d.get(k)
    return d


def _scored_latest(evals: list[dict]) -> list[dict]:
    latest: dict[int, dict] = {}
    for e in evals:
        if _get(e, "state", "text") != "SCORED":
            continue
        cur = latest.get(e["id"])
        if cur is None or e["evaluated"] > cur["evaluated"]:
            latest[e["id"]] = e
    return [latest[k] for k in sorted(latest)]


class Model:
    """Expected curated tables, as lists of row dicts keyed by column."""

    def __init__(self):
        self.forms: list[dict] = []
        self.contacts: dict[int, dict] = {}
        self.qa_contacts: dict[int, dict] = {}
        self.evals: dict[int, dict] = {}
        self.scores: list[dict] = []
        self.comments: list[dict] = []

    @staticmethod
    def _contact_row(c: dict) -> dict:
        return {
            "contact_id": c["id"],
            "contact_start_time": denver(c["startTime"]),
            "contact_url": f"{URL_PREFIX}{c['id']}/review",
            "cjp_session_id": c["assocCallId"],
        }

    def apply(self, landing_dir: str) -> None:
        forms = _load(landing_dir, "forms.json")
        contacts = _load(landing_dir, "all_contacts_*.json")
        qa_contacts = _load(landing_dir, "contacts_*.json")
        evals = _load(landing_dir, "fix_eval_raw.json")
        comments = _load(landing_dir, "fix_comments_raw.json")

        if forms is not None:  # full replace
            self.forms = [
                {"form_id": f["id"], "form_name": f["name"],
                 "section_id": s["id"], "section_name": s["name"], "section_weight": s["weight"],
                 "question_id": q["id"], "question_text": q["text"], "question_weight": q["weight"],
                 "option_id": o["id"], "option_label": o["label"],
                 "option_points": o["points"], "option_type": o["type"]}
                for f in forms for s in f["sections"] or []
                for q in s["questions"] or [] for o in q["options"] or []
            ]
        for docs, table in ((contacts, self.contacts), (qa_contacts, self.qa_contacts)):
            for c in docs or []:  # insert-only: the first version stays
                table.setdefault(c["id"], self._contact_row(c))

        if evals is not None:
            batch = _scored_latest(evals)
            scope = {_trailing_num(e["qualityRef"]) for e in batch}
            keep = {e["id"] for e in batch}
            # delete evaluations that vanished for contacts in this batch
            self.evals = {
                k: r for k, r in self.evals.items()
                if not (r["contact_id"] in scope and k not in keep)
            }
            for e in batch:  # upsert; a matched row keeps its evaluated_date
                row = {
                    "evaluation_id": e["id"],
                    "form_id": _get(e, "evalForm", "evalFormId"),
                    "contact_id": _trailing_num(e["qualityRef"]),
                    "agent_id": _get(e, "agent", "id"),
                    "evaluator_id": _get(e, "evaluator", "id"),
                    "eval_type": "Evaluation" if e.get("isScoreCounted") else "Calibration",
                    "evaluated_date": denver(e["evaluated"]),
                    "response_state": _get(e, "responseState", "text"),
                    "raw_score": e.get("additiveScore"),
                    "final_score": e.get("totalScore"),
                }
                if e["id"] in self.evals:
                    row["evaluated_date"] = self.evals[e["id"]]["evaluated_date"]
                self.evals[e["id"]] = row
            # scores: delete-then-insert by contact
            self.scores = [r for r in self.scores if r["contact_id"] not in scope] + [
                {"evaluation_id": e["id"], "contact_id": _trailing_num(e["qualityRef"]),
                 "section_id": s["id"], "question_id": q["id"], "option_id": q["selectedOption"]}
                for e in batch for s in e["sections"] or [] for q in s["questions"] or []
            ]

        scope_docs = contacts if contacts is not None else qa_contacts
        if comments is not None and scope_docs is not None:
            scope = {c["id"] for c in scope_docs}
            fresh = []
            for c in comments:
                hist = c.get("history") or []
                newest = max(hist, key=lambda h: h["created"]) if hist else None
                created = _get(newest, "created")
                who = _get(newest, "commentor", "$ref")
                row = {
                    "comment_id": _num(c["$ref"], 3),
                    "contact_id": _num(c["$ref"], 1),
                    "evaluation_id": _num(c["$ref"], 2),
                    "section_id": c.get("sectionFK"),
                    "question_id": c.get("questionFK"),
                    "created_date": denver(created if created is not None else c["created"]),
                    "commentor_id": _num(who if who is not None else _get(c, "commentor", "$ref")),
                    "text": c.get("text"),
                }
                if row["text"] is not None and _ALNUM.search(row["text"]):
                    fresh.append(row)
            self.comments = [r for r in self.comments if r["contact_id"] not in scope] + fresh

    def tables(self) -> dict[str, list[dict]]:
        return {
            "t_qa_forms": self.forms,
            "t_contacts": list(self.contacts.values()),
            "t_qa_contacts": list(self.qa_contacts.values()),
            "t_qa_evaluations": list(self.evals.values()),
            "t_qa_evaluation_scores": self.scores,
            "t_qa_evaluation_comments": self.comments,
        }


def selfcheck(fixtures_dir: str) -> list[str]:
    """Model over fixtures/ then fixtures/batch2 vs the DuckDB oracle of
    ``calabrio_pipeline_incremental``; returns mismatch descriptions."""
    import duckdb

    from qaapi_spark.plans import CATALOG
    from qaapi_spark.plans.calabrio import FIXTURES_DIR
    from qaapi_spark.testing import compare

    m = Model()
    m.apply(fixtures_dir)
    m.apply(os.path.join(fixtures_dir, "batch2"))
    sql = CATALOG["calabrio_pipeline_incremental"].oracle.replace(FIXTURES_DIR, fixtures_dir)
    res = duckdb.connect().execute(sql)
    d_cols = [d[0] for d in res.description]
    rows = m.tables()["t_qa_evaluations"]
    return compare(d_cols, [tuple(r[c] for c in d_cols) for r in rows], d_cols, res.fetchall())


if __name__ == "__main__":
    if sys.argv[1:2] != ["selfcheck"]:
        sys.exit("usage: python3 perfbench/elt.py selfcheck [fixtures_dir]")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    problems = selfcheck(sys.argv[2] if len(sys.argv) > 2 else os.path.join(root, "fixtures"))
    print("model matches the oracle" if not problems else "\n".join(problems))
    sys.exit(1 if problems else 0)
