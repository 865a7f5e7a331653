"""Seeded job-posting batches for the pipeline workloads.

The generator is pure Python (``random.Random(seed)``), so the same seed
always gives the same rows. It covers the raw value patterns the pipeline
parses (salary case matrix, ``&`` and ``│`` multi-location forms, HTML
location detail, no-location rows) and the scenarios the warehouse must
survive: duplicate keys inside one batch, rows crawled outside the 7-day
lookback, null-heavy rows, and recrawls that do or do not change the
tracked SCD2 columns.

Alongside the rows it keeps a model of what the warehouse must hold after
each day (``Model``): the number of current ``dim_job`` rows and the
number of fact grains, derived from the generator's own bookkeeping and
never from the program.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

DAY1 = dt.datetime(2025, 6, 1, 18, 0, 0)
LOOKBACK_DAYS = 7
# column order of the program's raw_jobs schema
RAW_COLUMNS = [
    "job_id", "title", "job_url", "company_name", "company_url", "salary",
    "skills", "location", "location_detail", "deadline", "verified_employer",
    "last_update", "logo_url", "posted_time", "crawled_at",
]
FANOUT_DAYS = 5

ROLES = [
    "Python Developer", "Data Engineer", "Frontend React Developer",
    "DevOps Engineer", "Java Developer", "Tester", "Business Analyst",
    "ML Engineer", "Backend Golang Developer", "Kế toán tổng hợp",
    "Nhân viên kinh doanh", "Mobile Flutter Developer",
]
LEVELS = ["Junior", "Senior", "Lead", "Staff", "Intern", "Principal"]
# raw title shapes: ' - ' suffix, '/', parens, Vietnamese recruiting prefix
TITLE_FORMS = [
    "{level} {role}",
    "{level} {role} - Urgent",
    "{role} / Team Lead",
    "{role} ({level})",
    "Tuyển dụng gấp {role}",
    "[HN] {level} {role}",
]
COMPANY_FORMS = [
    "công ty tnhh {n}",
    "CÔNG TY CỔ PHẦN {N} VIỆT NAM",
    "{n} software",
    "Công Ty TNHH Giải Pháp {N}",
]
COMPANY_WORDS = [
    "abc", "xyz", "fpt", "viettel", "vng", "tiki", "momo", "sun", "star",
    "nova", "alpha", "delta", "minh long", "hoa binh", "an phat",
]
SKILLS = [
    "Python", "SQL", "Spark", "Java", "React", "AWS", "Docker", "Go",
    "Kubernetes", "Excel", "Flutter", "Django", "Kafka", "Airflow",
]
# (location, location_detail) generators; None/None is the no-location row
CITIES = {
    "Hà Nội": ["Cầu Giấy", "Đống Đa", "Hoàn Kiếm", "Thanh Xuân"],
    "Hồ Chí Minh": ["Q1", "Q3", "Bình Thạnh", "Thủ Đức"],
    "Đà Nẵng": ["Hải Châu", "Sơn Trà"],
    "Cần Thơ": ["Ninh Kiều"],
    "Huế": ["Phú Hội"],
}
LAST_UPDATE = [
    "Cập nhật {n} phút trước", "Cập nhật {n} giờ trước", "{n} ngày trước",
    "{n} tuần trước", "1 tháng trước", "", None,
]


def _salary(rng: random.Random) -> str | None:
    """One value of the salary case matrix, with random amounts."""
    a = rng.randint(5, 40)
    b = a + rng.randint(1, 20)
    u = rng.randint(5, 30) * 100
    kind = rng.randrange(13)
    return [
        f"{a} - {b} triệu",
        f"{a}-{b} triệu",
        f"{u:,} - {u + 1000:,} USD",
        "Thoả thuận",
        f"Tới {u:,} USD",
        f"tới {b} triệu",
        f"Từ {a} triệu",
        f"{u} USD",
        f"{a} triệu",
        "0.0 - 0.0 triệu",
        f"{b} - {a} triệu",  # min > max inversion
        "",
        None,
    ][kind]


def _location(rng: random.Random) -> tuple[str | None, str | None]:
    names = list(CITIES)
    kind = rng.randrange(6)
    c1 = rng.choice(names)
    d1 = rng.choice(CITIES[c1])
    if kind == 0:  # single city with HTML detail
        return c1, f"<div>{c1}: {d1}</div>"
    if kind == 1:  # '&' two-city form with <br/> detail
        c2 = rng.choice([n for n in names if n != c1])
        d2 = rng.choice(CITIES[c2])
        return f"{c1} & {c2}", f"<div>{c1}: {d1}<br/>{c2}: {d2}</div>"
    if kind == 2:  # '│' district list, no detail
        d2 = rng.choice(CITIES[c1])
        return f"{c1} │ {d1}, {d2}", None
    if kind == 3:
        return "TP HCM", None
    if kind == 4:
        return c1, None
    return None, None  # no-location job: bridges to Unknown


@dataclass
class Job:
    job_id: str
    company: str | None
    company_url: str | None
    verified: bool
    location: str | None
    location_detail: str | None
    posted: dt.datetime | None
    version: int = 0  # bumped on every recrawl that changes a tracked column
    last_crawl: dt.datetime | None = None
    title: str = ""
    skills: list[str] | None = None
    last_update: str | None = None


@dataclass
class Model:
    """What the warehouse must hold, from the generator's own bookkeeping."""

    jobs: dict[str, Job] = field(default_factory=dict)
    in_dim: set[str] = field(default_factory=set)
    grains: set[tuple[str, int, dt.date]] = field(default_factory=set)
    raw_rows: int = 0

    def apply_day(self, run_ts: dt.datetime) -> None:
        cutoff = run_ts - dt.timedelta(days=LOOKBACK_DAYS)
        run_date = run_ts.date()
        for j in self.jobs.values():
            if j.last_crawl is None or j.last_crawl < cutoff:
                continue
            self.in_dim.add(j.job_id)
            if j.company is None:
                continue  # no company → fact rows are unresolvable
            for k in range(FANOUT_DAYS):
                self.grains.add((j.job_id, j.version, run_date + dt.timedelta(days=k)))

    @property
    def current_dim_job(self) -> int:
        return len(self.in_dim)

    @property
    def fact_rows(self) -> int:
        return len(self.grains)


def write_batch(rows: list[tuple], path: str, tz: str) -> None:
    """Write one batch as a single parquet file in the ``raw_jobs`` layout.
    Naive datetimes are wall-clock times in ``tz`` (the session zone)."""
    from zoneinfo import ZoneInfo

    import pyarrow as pa
    import pyarrow.parquet as pq

    zone = ZoneInfo(tz)
    ts = pa.timestamp("us", tz="UTC")
    types = {"skills": pa.list_(pa.string()), "verified_employer": pa.bool_(),
             "posted_time": ts, "crawled_at": ts}
    cols = list(zip(*rows)) if rows else [()] * len(RAW_COLUMNS)
    arrays = []
    for name, vals in zip(RAW_COLUMNS, cols):
        typ = types.get(name, pa.string())
        if typ == ts:
            vals = [None if v is None else v.replace(tzinfo=zone) for v in vals]
        arrays.append(pa.array(vals, typ))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(arrays, names=RAW_COLUMNS), os.path.join(path, "part-0.parquet"))


class PostingGenerator:
    """Day-by-day crawl batches of job postings.

    ``day(n)`` on the first call yields ``n`` fresh postings; every later
    call yields ~70% recrawls of live jobs (a third of them with changed
    title and skills, which forces an SCD2 update) and ~30% new jobs. Each
    batch also carries ~2% intra-batch duplicate keys (the later crawl
    wins), ~2% rows crawled outside the lookback and ~3% null-heavy rows.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.model = Model()
        self.days = 0
        self._next_id = 0
        self._raw_ids: set[str] = set()
        self._companies = self._company_pool(64)

    def _company_pool(self, n: int) -> list[tuple[str, str, bool]]:
        out = []
        for i in range(n):
            w = self.rng.choice(COMPANY_WORDS) + f" {i}"
            form = self.rng.choice(COMPANY_FORMS)
            name = form.format(n=w, N=w.upper())
            out.append((name, f"https://www.topcv.vn/company/c{i}", self.rng.random() < 0.4))
        return out

    def _new_id(self) -> str:
        self._next_id += 1
        return f"{self._next_id:07d}"

    def _title(self) -> str:
        form = self.rng.choice(TITLE_FORMS)
        return form.format(role=self.rng.choice(ROLES), level=self.rng.choice(LEVELS))

    def _skills(self) -> list[str] | None:
        r = self.rng.random()
        if r < 0.05:
            return None
        if r < 0.1:
            return []
        return sorted(self.rng.sample(SKILLS, self.rng.randint(1, 4)))

    def _last_update(self) -> str | None:
        form = self.rng.choice(LAST_UPDATE)
        return form if form is None else form.format(n=self.rng.randint(1, 12))

    def _fresh_job(self, run_ts: dt.datetime, null_heavy: bool = False) -> Job:
        if null_heavy:
            job = Job(self._new_id(), None, None, False, None, None, None)
            job.title, job.skills, job.last_update = "Mystery", None, None
            return job
        name, url, verified = self.rng.choice(self._companies)
        loc, detail = _location(self.rng)
        posted = run_ts - dt.timedelta(days=self.rng.randint(0, 90), hours=self.rng.randint(0, 23))
        job = Job(self._new_id(), name, url, verified, loc, detail, posted)
        job.title, job.skills, job.last_update = self._title(), self._skills(), self._last_update()
        return job

    def _row(self, job: Job, crawled: dt.datetime, salary: str | None, deadline: str | None):
        null_heavy = job.company is None
        return (
            job.job_id,
            job.title,
            None if null_heavy else f"https://www.topcv.vn/job-detail/{job.job_id}.html",
            job.company,
            job.company_url,
            salary,
            job.skills,
            job.location,
            job.location_detail,
            deadline,
            job.verified,
            job.last_update,
            None if null_heavy else f"https://logo/{job.job_id}.png",
            job.posted,
            crawled,
        )

    def _crawl_time(self, run_ts: dt.datetime) -> dt.datetime:
        return run_ts - dt.timedelta(seconds=self.rng.randint(600, 12 * 3600))

    def _deadline(self) -> str | None:
        return None if self.rng.random() < 0.03 else str(self.rng.randint(0, 30))

    def day(self, n: int) -> tuple[dt.datetime, list[tuple]]:
        """Return ``(run_ts, rows)`` for the next day, ``n`` rows or so."""
        run_ts = DAY1 + dt.timedelta(days=self.days)
        self.days += 1
        rows: list[tuple] = []
        rng = self.rng
        live = [j for j in self.model.jobs.values() if j.last_crawl is not None]
        n_recrawl = 0 if not live else min(len(live), int(n * 0.7))
        for job in rng.sample(live, n_recrawl):
            if rng.random() < 1 / 3 and job.company is not None:
                job.version += 1
                job.title = self._title() + f" {job.version}"
                job.skills = sorted(set(job.skills or []) | {rng.choice(SKILLS)}) + [f"v{job.version}"]
            crawled = self._crawl_time(run_ts)
            job.last_crawl = crawled
            rows.append(self._row(job, crawled, _salary(rng), self._deadline()))
        for _ in range(n - n_recrawl):
            r = rng.random()
            if r < 0.02:
                # crawled 10 days ago: outside the lookback, never reaches
                # the warehouse (and is never recrawled)
                job = self._fresh_job(run_ts)
                rows.append(self._row(job, run_ts - dt.timedelta(days=10), _salary(rng), "30"))
                self.model.jobs[job.job_id] = job
                continue
            job = self._fresh_job(run_ts, null_heavy=r < 0.05)
            crawled = self._crawl_time(run_ts)
            if r > 0.98:
                # intra-batch duplicate key: an older crawl of the same job
                # with another title; the later crawl must win
                stale = Job(**{**job.__dict__, "title": job.title + " (old)"})
                rows.append(self._row(stale, crawled - dt.timedelta(hours=1), _salary(rng), "30"))
            job.last_crawl = crawled
            self.model.jobs[job.job_id] = job
            rows.append(self._row(job, crawled, _salary(rng), self._deadline()))
        rng.shuffle(rows)
        self._raw_ids.update(r[0] for r in rows)
        self.model.raw_rows = len(self._raw_ids)
        self.model.apply_day(run_ts)
        return run_ts, rows
