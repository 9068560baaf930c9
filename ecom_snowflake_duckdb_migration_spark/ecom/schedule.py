"""Cron scheduling semantics for the daily pipeline — the Spark twin of the
reference's Airflow deployment (SURVEY §3 E2).

The reference runs four DAGs on cron schedules
(ecom_airflow/dags/gen_latest_synth_dag.py:26 ``schedule_interval='0 0 * * *',
catchup=False``; dbt_staging_dag.py:27, dbt_intermediate_dag.py:16,
dbt_marts_dag.py:16 ``"@daily", catchup=False``). ``orchestrate.daily_run``
already replicates the DAG *body*; this module replicates the *scheduler
contract* around it, with Airflow's documented semantics:

- **Data intervals**: a run covers the interval ``[T, next(T))`` and fires at
  ``next(T)`` — i.e. the midnight run processes *yesterday*; its
  ``execution_date`` (the ``{{ ds }}`` the reference passes to dbt as
  ``load_date``) is the interval START, not the fire time.
- **catchup=False**: after downtime only the single most recent complete
  interval runs (the reference's setting on all four DAGs); ``catchup=True``
  backfills every missed interval in order.
- **Classic cron quirk**: when BOTH day-of-month and day-of-week are
  restricted, a date matches if EITHER matches (Vixie cron / Airflow
  behavior) — restricted-DOM-only or restricted-DOW-only AND with the other
  fields as usual.

Everything is pure datetime arithmetic — deterministic, driver-side, tested
without a Spark session. ``Scheduler`` persists its high-water mark as a JSON
sidecar in the warehouse dir, so a restarted process resumes exactly where it
stopped (the Airflow metadata-DB role, reduced to the one fact this pipeline
needs). The state file is driver-local (``os``/``open``), not a durable
store: it belongs to the scheduler process, not to the warehouse data.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from dataclasses import dataclass

__all__ = [
    "CronSchedule",
    "parse_cron",
    "next_fire",
    "prev_fire",
    "due_intervals",
    "Scheduler",
]

_ALIASES = {
    "@hourly": "0 * * * *",
    "@daily": "0 0 * * *",
    "@midnight": "0 0 * * *",
    "@weekly": "0 0 * * 0",
    "@monthly": "0 0 1 * *",
    "@yearly": "0 0 1 1 *",
    "@annually": "0 0 1 1 *",
}

_BOUNDS = ((0, 59), (0, 23), (1, 31), (1, 12), (0, 6))


def _parse_field(spec: str, lo: int, hi: int) -> tuple[frozenset[int], bool]:
    """One cron field -> (allowed values, was_wildcard). Supports ``*``,
    lists, ranges, and ``/step`` on ranges or ``*``. Day-of-week 7 == 0."""
    vals: set[int] = set()
    wildcard = spec == "*"
    is_dow = (lo, hi) == (0, 6)
    for part in spec.split(","):
        part, _, step_s = part.partition("/")
        step = int(step_s) if step_s else 1
        if step < 1:
            raise ValueError(f"cron step must be >= 1: {spec!r}")
        if part == "*":
            start, end = lo, hi
        elif "-" in part:
            a, b = part.split("-")
            start, end = int(a), int(b)
        else:
            start = int(part)
            end = hi if step_s else start  # Vixie: "N/step" means N..hi/step
        for v in range(start, end + 1, step):
            if is_dow and v == 7:  # Sunday spelled as 7
                v = 0
            if not lo <= v <= hi:
                raise ValueError(f"cron value {v} out of [{lo},{hi}]: {spec!r}")
            vals.add(v)
    if not vals:
        raise ValueError(f"empty cron field: {spec!r}")
    return frozenset(vals), wildcard


@dataclass(frozen=True)
class CronSchedule:
    minutes: frozenset[int]
    hours: frozenset[int]
    dom: frozenset[int]
    months: frozenset[int]
    dow: frozenset[int]  # 0 = Sunday (cron convention)
    dom_restricted: bool
    dow_restricted: bool
    expr: str

    def day_matches(self, d: _dt.date) -> bool:
        if d.month not in self.months:
            return False
        cron_dow = (d.weekday() + 1) % 7  # Monday=0 -> Sunday=0 convention
        dom_ok = d.day in self.dom
        dow_ok = cron_dow in self.dow
        if self.dom_restricted and self.dow_restricted:
            return dom_ok or dow_ok  # the classic OR quirk
        if self.dom_restricted:
            return dom_ok
        if self.dow_restricted:
            return dow_ok
        return True


def parse_cron(expr: str) -> CronSchedule:
    """Parse a 5-field cron expression or an ``@alias``."""
    src = _ALIASES.get(expr.strip(), expr.strip())
    fields = src.split()
    if len(fields) != 5:
        raise ValueError(f"expected 5 cron fields, got {len(fields)}: {expr!r}")
    parsed = [_parse_field(f, lo, hi) for f, (lo, hi) in zip(fields, _BOUNDS)]
    (mi, _), (ho, _), (dm, dm_w), (mo, _), (dw, dw_w) = parsed
    return CronSchedule(
        minutes=mi, hours=ho, dom=dm, months=mo, dow=dw,
        dom_restricted=not dm_w, dow_restricted=not dw_w, expr=expr,
    )


def _fires_on(sched: CronSchedule, d: _dt.date):
    for h in sorted(sched.hours):
        for m in sorted(sched.minutes):
            yield _dt.datetime.combine(d, _dt.time(h, m))


def next_fire(sched: CronSchedule, after: _dt.datetime) -> _dt.datetime:
    """First fire time STRICTLY after ``after``. Raises if none within ~4
    years (an impossible schedule like Feb 30)."""
    d = after.date()
    for _ in range(366 * 4 + 1):
        if sched.day_matches(d):
            for t in _fires_on(sched, d):
                if t > after:
                    return t
        d += _dt.timedelta(days=1)
    raise ValueError(f"no fire time within 4 years of {after}: {sched.expr!r}")


def prev_fire(sched: CronSchedule, at_or_before: _dt.datetime) -> _dt.datetime:
    """Last fire time at or before ``at_or_before`` (same 4-year guard)."""
    d = at_or_before.date()
    for _ in range(366 * 4 + 1):
        if sched.day_matches(d):
            for t in reversed(list(_fires_on(sched, d))):
                if t <= at_or_before:
                    return t
        d -= _dt.timedelta(days=1)
    raise ValueError(f"no fire time within 4 years of {at_or_before}: {sched.expr!r}")


def due_intervals(
    sched: CronSchedule,
    start_date: _dt.datetime,
    now: _dt.datetime,
    last_execution: _dt.datetime | None = None,
    catchup: bool = False,
) -> list[_dt.datetime]:
    """Execution dates (data-interval STARTS) due at ``now``.

    An interval ``[T, next(T))`` is due once ``next(T) <= now`` — Airflow's
    end-of-interval trigger. ``last_execution`` is the high-water execution
    date already run (None = never ran). ``catchup=False`` collapses the
    backlog to the single most recent due interval, matching all four
    reference DAGs; ``catchup=True`` returns every missed one in order.
    """
    due: list[_dt.datetime] = []
    if last_execution is not None:
        t = next_fire(sched, last_execution)
    else:
        # first interval starts at the first fire >= start_date
        t = next_fire(sched, start_date - _dt.timedelta(microseconds=1))
    while next_fire(sched, t) <= now:
        due.append(t)
        t = next_fire(sched, t)
    if not catchup and len(due) > 1:
        due = due[-1:]
    return due


class Scheduler:
    """Drive ``orchestrate.scheduled_run`` on a cron schedule with a
    restart-safe high-water mark (``_schedule_state.json`` in the warehouse
    dir — the one fact Airflow's metadata DB contributes here).

    ``run_pending(spark, now)`` executes every due interval (respecting
    ``catchup``) by calling ``scheduled_run(day=execution_date)`` — the
    execution date is the interval START, exactly the ``{{ ds }}``
    the reference passes to dbt as ``load_date`` (dbt_staging_dag.py:36).
    ``now`` is explicit for determinism; callers pass wall-clock.
    """

    def __init__(
        self,
        warehouse_dir: str,
        schedule: str = "0 0 * * *",  # gen_latest_synth_dag.py:26
        start_date: _dt.datetime | None = None,
        catchup: bool = False,
        **run_kwargs,
    ) -> None:
        self.warehouse_dir = warehouse_dir
        self.sched = parse_cron(schedule)
        self.start_date = start_date or _dt.datetime(2024, 12, 1)  # default_args start_date, gen_latest_synth_dag.py:14
        self.catchup = catchup
        self.run_kwargs = run_kwargs

    @property
    def _state_path(self) -> str:
        return os.path.join(self.warehouse_dir, "_schedule_state.json")

    def last_execution(self) -> _dt.datetime | None:
        try:
            with open(self._state_path) as f:
                return _dt.datetime.fromisoformat(json.load(f)["last_execution"])
        except (OSError, KeyError, ValueError):
            return None

    def _record(self, execution: _dt.datetime) -> None:
        os.makedirs(self.warehouse_dir, exist_ok=True)
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_execution": execution.isoformat(), "schedule": self.sched.expr}, f)
        os.replace(tmp, self._state_path)

    def pending(self, now: _dt.datetime) -> list[_dt.datetime]:
        return due_intervals(
            self.sched, self.start_date, now,
            last_execution=self.last_execution(), catchup=self.catchup,
        )

    def run_pending(self, spark, now: _dt.datetime) -> list:
        """Execute all due intervals; returns their DailyRunResults. The
        high-water mark advances only after a run completes, so a crash
        mid-backlog resumes at the failed interval (and daily_run's
        idempotency makes the retry safe)."""
        from .orchestrate import scheduled_run

        results = []
        for execution in self.pending(now):
            results.append(
                scheduled_run(
                    spark, self.warehouse_dir, day=execution.date(), **self.run_kwargs
                )
            )
            self._record(execution)
        return results
