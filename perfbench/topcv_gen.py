"""Seeded synthetic TopCV raw batches with independently derived expected counts.

One simulated crawl per day. A pool of active postings churns: postings
past their deadline and a random share of the rest are removed, a share
is updated, and new postings refill the pool. Every active posting is
crawled each day, a small share of rows is crawled twice, and a small
share of postings has an empty title (invalid for the crawl and staging
validators). Both shares stay below the quality gates' thresholds.

Alongside each batch the simulation derives, without Spark, the counts
the warehouse must reach for that day:

- ``staging_rows``: distinct job ids in the batch (staging dedups on it);
- ``dim_job_current`` / ``dim_job_history``: SCD2 rows of ``dim_job``.
  Every posting ever seen keeps one current row; each update of a
  tracked attribute (job_url or skills) expires one row;
- ``fact_rows``: fact rows dated that day, i.e. today's postings plus
  yesterday's facts whose ``job_sk`` is absent today and whose due date
  is unset or not yet past (the carry-forward rule). Carry-forward keys
  on ``job_sk``, and a tracked edit opens a new ``job_sk``, so the
  previous version of an edited posting keeps carrying forward too;
- ``jobs_today``: those fact rows whose ``job_sk`` is its posting's
  current version (the rows of ``vw_jobs_today``).

Raw text covers all 11 branches of ``functions/salary.normalize_salary``,
multi-city ``' & '`` locations (merged, unmerged and foreign provinces,
the 'Nơi khác' filler), digit and non-digit deadlines, and
``Cập nhật N <unit> trước`` last-update strings.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# (expected salary_type, raw text templates) — one entry per branch of
# normalize_salary, in its branch order. {a} < {b} are amounts in triệu,
# {ua} < {ub} USD amounts with a thousands comma ('1,500').
SALARY_BRANCHES = (
    ("negotiable", ("Thỏa thuận", "Thương lượng", "", None)),
    ("competitive", ("Cạnh tranh",)),
    ("negotiable", ("0.0 - 0.0 triệu",)),
    ("range", ("{ua} - {ub} USD",)),
    ("range", ("{a} - {b} triệu", "{a},5 - {b} triệu")),
    ("upto", ("Tới {ub} USD",)),
    ("upto", ("Tới {b} triệu",)),
    ("from", ("Từ {a} triệu",)),
    ("range", ("{ua} USD",)),
    ("range", ("{b} triệu",)),
    ("unknown", ("Lương hấp dẫn", "Theo năng lực")),
)

LOCATIONS = (
    "Hà Nội",
    "Hồ Chí Minh",
    "Hà Nội & Hồ Chí Minh",
    "Đà Nẵng",
    "Hải Phòng (mới) & Bắc Ninh",
    "Huế (mới)",
    "Cần Thơ & Nơi khác",
    "Nhật Bản",
    "Hà Nội & Singapore",
    "Quảng Ninh & Thanh Hóa & Nghệ An",
)

ROLES = (
    "Backend Engineer", "Frontend Developer (ReactJS)", "Data Analyst",
    "Nhân viên kinh doanh", "Kế toán tổng hợp", "Chuyên viên tuyển dụng",
    "QA/QC Engineer", "DevOps Engineer - Thu Nhập Upto 40 Triệu",
    "Nhân viên chăm sóc khách hàng", "Java Developer [Hà Nội]",
)

SKILLS = (
    "Python", "SQL", "Java", "ReactJS", "Docker", "AWS", "Excel",
    "Tiếng Anh", "Kế toán", "Marketing", "Giao tiếp", "Go",
)

LAST_UPDATE_UNITS = ("giây", "phút", "giờ", "ngày", "tuần", "tháng")
NON_DIGIT_DEADLINES = ("Hết hạn", "30/06/2026", "", None)

RAW_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("title", pa.string()),
        ("job_url", pa.string()),
        ("company_name", pa.string()),
        ("company_url", pa.string()),
        ("salary", pa.string()),
        ("skills", pa.list_(pa.string())),
        ("location", pa.string()),
        ("deadline", pa.string()),
        ("verified_employer", pa.bool_()),
        ("last_update", pa.string()),
        ("logo_url", pa.string()),
        ("posted_time", pa.timestamp("us", tz="UTC")),
        ("crawled_at", pa.timestamp("us", tz="UTC")),
    ]
)

# daily churn shares of the active pool; duplicate and invalid shares
# stay well under the gates (duplicate/data-loss 5 %, staging valid 95 %,
# business-rule hard violations 5 %)
REMOVE_SHARE = 0.08
UPDATE_SHARE = 0.06
SALARY_ONLY_UPDATE_SHARE = 0.03
DUPLICATE_SHARE = 0.02
INVALID_SHARE = 0.02
N_COMPANIES_PER_POSTING = 0.1


@dataclass
class Posting:
    job_id: str
    title: str
    company: int
    salary_branch: int
    salary: str | None
    skills: list[str]
    location: str
    due: date | None  # None: the deadline text is not all digits
    deadline_text: str | None
    version: int = 0  # job_url revision
    sk_version: int = 0  # tracked edits so far: one dim_job row each


@dataclass
class DayBatch:
    as_of: date
    crawled_at: datetime
    rows: list[tuple]
    expected: dict
    salary_branches: list[int] = field(default_factory=list)


class TopCVSimulator:
    """Day-by-day crawl simulation; ``next_day()`` yields one batch."""

    def __init__(self, seed: int, postings_per_day: int, start: date):
        self.rng = random.Random(seed)
        self.target = postings_per_day
        self.day = start
        self.n_companies = max(5, int(postings_per_day * N_COMPANIES_PER_POSTING))
        self.pool: dict[str, Posting] = {}
        self.next_id = 1_000_000 + self.rng.randrange(1_000_000)
        self.seen = 0
        self.history = 0
        self.prev_fact: dict[tuple[str, int], date | None] = {}
        self.latest: dict[str, int] = {}  # job id -> its current sk_version

    def _salary(self, branch: int) -> str | None:
        text = self.rng.choice(SALARY_BRANCHES[branch][1])
        if text is None:
            return None
        a = self.rng.randrange(5, 30)
        b = a + self.rng.randrange(1, 20)
        return text.format(a=a, b=b, ua=f"{a * 100:,}", ub=f"{b * 100:,}")

    def _new_posting(self, today: date) -> Posting:
        rng = self.rng
        job_id = str(self.next_id)
        self.next_id += 1 + rng.randrange(3)
        invalid = rng.random() < INVALID_SHARE
        title = "" if invalid else f"{rng.choice(ROLES)} {rng.randrange(1, 9)}"
        if rng.random() < 0.7:
            due = today + timedelta(days=rng.randrange(0, 45))
            text = None
        else:
            due, text = None, rng.choice(NON_DIGIT_DEADLINES)
        branch = rng.randrange(len(SALARY_BRANCHES))
        return Posting(
            job_id=job_id,
            title=title,
            company=rng.randrange(self.n_companies),
            salary_branch=branch,
            salary=self._salary(branch),
            skills=rng.sample(SKILLS, rng.randrange(1, 5)),
            location=rng.choice(LOCATIONS),
            due=due,
            deadline_text=text,
        )

    def _row(self, p: Posting, today: date, crawled_at: datetime) -> tuple:
        rng = self.rng
        c = p.company
        url = f"https://www.topcv.vn/viec-lam/tin-{p.job_id}.html"
        if p.version:
            url += f"?v={p.version}"
        deadline = str((p.due - today).days) if p.due is not None else p.deadline_text
        n = rng.randrange(1, 12)
        unit = rng.choice(LAST_UPDATE_UNITS)
        posted = crawled_at - timedelta(days=2) if rng.random() < 0.1 else None
        return (
            p.job_id,
            p.title,
            url,
            f"công ty tnhh công nghệ số {c}",
            f"https://www.topcv.vn/cong-ty/cty-{c}",
            p.salary,
            p.skills,
            p.location,
            deadline,
            c % 3 == 0,
            f"Cập nhật {n} {unit} trước",
            f"https://cdn.topcv.vn/logo/{c}.png",
            posted,
            crawled_at,
        )

    def next_day(self) -> DayBatch:
        rng = self.rng
        today = self.day
        self.day = today + timedelta(days=1)
        crawled_at = datetime(today.year, today.month, today.day, 6, tzinfo=timezone.utc)

        # churn: expired postings leave, a random share is taken down,
        # a share is edited (tracked edits open a new dim_job version)
        for job_id in sorted(self.pool):
            p = self.pool[job_id]
            if (p.due is not None and p.due < today) or rng.random() < REMOVE_SHARE:
                del self.pool[job_id]
        for job_id in sorted(self.pool):
            p = self.pool[job_id]
            r = rng.random()
            if r < UPDATE_SHARE:
                if rng.random() < 0.5:
                    p.version += 1
                else:
                    p.skills = p.skills + [f"Skill{rng.randrange(100)}"]
                p.sk_version += 1
                self.history += 1
            elif r < UPDATE_SHARE + SALARY_ONLY_UPDATE_SHARE:
                p.salary = self._salary(p.salary_branch)
        while len(self.pool) < self.target:
            p = self._new_posting(today)
            self.pool[p.job_id] = p
            self.seen += 1

        postings = [self.pool[j] for j in sorted(self.pool)]
        rows = [self._row(p, today, crawled_at) for p in postings]
        rows += [r for r in rows if rng.random() < DUPLICATE_SHARE]
        rng.shuffle(rows)

        fact = {(p.job_id, p.sk_version): p.due for p in postings}
        for key, due in self.prev_fact.items():
            if key not in fact and (due is None or due >= today):
                fact[key] = due
        self.prev_fact = fact
        self.latest.update((p.job_id, p.sk_version) for p in postings)
        expected = {
            "raw_rows": len(rows),
            "staging_rows": len(postings),
            "dim_job_current": self.seen,
            "dim_job_history": self.history,
            "fact_rows": len(fact),
            # today's fact rows on a current dim_job version: one row each
            # in vw_jobs_today
            "jobs_today": sum(1 for j, v in fact if self.latest[j] == v),
        }
        return DayBatch(
            today, crawled_at.replace(tzinfo=None), rows, expected,
            [p.salary_branch for p in postings],
        )


def generate_days(
    seed: int, n_days: int, postings_per_day: int, start: date
) -> list[DayBatch]:
    sim = TopCVSimulator(seed, postings_per_day, start)
    return [sim.next_day() for _ in range(n_days)]


def write_batch(batch: DayBatch, path: str) -> None:
    """One day's raw batch as a parquet file at ``path``."""
    cols = list(zip(*batch.rows))
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, RAW_SCHEMA)],
        schema=RAW_SCHEMA,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
