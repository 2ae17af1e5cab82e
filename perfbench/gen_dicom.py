"""Seeded DICOM inputs for the ingest workloads, with expected DB rows.

Two generators, both built on the public
``dicomdb_spark.sources.dicom.encode_minimal_dicom``:

* :func:`crawl_tree` — an on-disk ``protocol/subject/series/*.dic``
  tree carrying the reference crawl's distractors (non-``^S`` series
  dirs, ``.xml``, ``dicom_info*`` and dot-files, files without the
  ``DICM`` magic) and header pathologies (implicit VR, CSA-only
  SequenceName, duplicate and missing InstanceNumbers, multi-day
  subjects, an exam crossing midnight, multi-echo series).
* :func:`landing_waves` — serie-atomic arrival waves of ``(path,
  content)`` rows; exams are split across waves and every wave after
  the first redelivers a share of already-landed series unchanged.

Each generator keeps the header fields of every file it writes, and
:func:`expected_rows` derives the ``serie`` and ``exam`` rows the import
must leave in the DB from those fields in plain Python, independently
of the engine.  Everything derives from ``random.Random(seed)``, so the
same seed gives byte-identical files.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field

from dicomdb_spark.sources.dicom import encode_minimal_dicom

TS_EXPLICIT = "1.2.840.10008.1.2.1"
TS_IMPLICIT = "1.2.840.10008.1.2"

SEQUENCES = ("tfl3d1_16ns", "epfid2d1_64", "spc3d1rr282", "fm2d2r", "ep_b1000")
MACHINES = ("SIEMENS", "GE MEDICAL SYSTEMS")
DAY_S = 24 * 3600


@dataclass
class Serie:
    """One acquisition: every file carries the same series/study keys."""

    suid: str
    number: int
    echo_times: tuple[float, ...]
    study: str
    date: str  # YYYYMMDD
    start_s: int  # seconds of day of the first instance
    n_inst: int
    step_s: int
    implicit: bool = False
    csa_only: bool = False
    dup_inst: int | None = None  # an InstanceNumber written twice
    missing_inst: int | None = None  # an InstanceNumber never written
    files: list[tuple[str, dict, str]] = field(default_factory=list)


def _hhmmss(sec: int) -> str:
    sec %= DAY_S
    return f"{sec // 3600:02d}{sec % 3600 // 60:02d}{sec % 60:02d}.000000"


def _day(base: str, offset: int) -> str:
    import datetime as dt

    d = dt.date(int(base[:4]), int(base[4:6]), int(base[6:])) + dt.timedelta(days=offset)
    return d.strftime("%Y%m%d")


def _fields(s: Serie, inst: int, echo: float, acq: int, machine: str) -> dict:
    seq = SEQUENCES[s.number % len(SEQUENCES)]
    f = {
        "SeriesInstanceUID": s.suid,
        "StudyInstanceUID": s.study,
        "SeriesNumber": str(s.number),
        "InstanceNumber": str(inst),
        "EchoTime": repr(echo),
        "AcquisitionDate": s.date,
        "AcquisitionTimeRaw": _hhmmss(acq),
        "Manufacturer": machine,
        "SequenceName": seq,
        "RepetitionTime": str(2000 + 100 * (s.number % 7)),
        "ImageType": ["ORIGINAL", "PRIMARY", "M"],
    }
    if s.csa_only:
        # SequenceName only in the Siemens CSA private block
        del f["SequenceName"]
        f["csa_image"] = {"SequenceName": seq, "FlipAngle": str(5 + s.number)}
    return f


def _fill_files(s: Serie, sub_dir: str, machine: str) -> None:
    """Instance files of one serie: ``(relative path, fields, syntax)``."""
    insts = [i for i in range(1, s.n_inst + 1) if i != s.missing_inst]
    ts = TS_IMPLICIT if s.implicit else TS_EXPLICIT
    for e, echo in enumerate(s.echo_times):
        for i in insts:
            inst = i + e * s.n_inst
            acq = s.start_s + (inst - 1) * s.step_s
            name = f"{sub_dir}/{s.number:03d}_{inst:05d}.dic"
            s.files.append((name, _fields(s, inst, echo, acq, machine), ts))
            if s.dup_inst == i and e == 0:
                # a second file with the same InstanceNumber, acquired later
                dup = f"{sub_dir}/{s.number:03d}_{inst:05d}_bis.dic"
                s.files.append((dup, _fields(s, inst, echo, acq + 1, machine), ts))


def _make_exam(
    rng: random.Random,
    uid_root: str,
    exam_no: int,
    date: str,
    n_series: int,
    files_per_serie: int,
    midnight: bool = False,
) -> list[Serie]:
    """Series of one exam; ``midnight`` starts it at 23:58:30 so its
    first serie ends before midnight and the next one starts after it
    (one StudyInstanceUID, two exam rows)."""
    study = f"{uid_root}.{exam_no}"
    t = DAY_S - 90 if midnight else rng.randrange(7 * 3600, 18 * 3600)
    out = []
    for n in range(1, n_series + 1):
        multi_echo = rng.random() < 0.15
        echoes = (2.46, 4.92) if multi_echo else (rng.choice((2.3, 3.1, 30.0, 86.0)),)
        n_inst = max(1, files_per_serie // len(echoes) + rng.randrange(-2, 3))
        if (exam_no + n) % 12 == 0:
            n_inst = 1  # single-instance (localizer-like): NULL duration
        step = rng.choice((2, 3, 5))
        s = Serie(
            suid=f"{study}.{n}",
            number=n,
            echo_times=echoes,
            study=study,
            date=_day(date, t // DAY_S),
            start_s=t % DAY_S,
            n_inst=n_inst,
            step_s=step,
            implicit=rng.random() < 0.2,
            csa_only=rng.random() < 0.2,
            dup_inst=(rng.randrange(1, n_inst + 1) if n_inst > 2 and rng.random() < 0.1 else None),
            missing_inst=(rng.randrange(2, n_inst) if n_inst > 3 and rng.random() < 0.1 else None),
        )
        out.append(s)
        t += n_inst * len(echoes) * step + rng.randrange(30, 240)
    return out


def _exam_plan(rng: random.Random, n_exams: int, n_series: tuple[int, int], files: int):
    """``n_exams`` exams on subjects: every fourth subject comes back
    on a second day, one exam crosses midnight.  Exam ``e`` gets the
    ``e``-th of the series counts ``range(*n_series)`` in a seeded
    order, so every ``len(range(*n_series))`` exams hold the same number
    of series whatever the seed (inputs of one size across seeds)."""
    base = "20150105"
    counts = list(range(*n_series))
    rng.shuffle(counts)
    exams: list[tuple[str, str, list[Serie]]] = []  # (protocol, subject, series)
    e = 0
    subj = 0
    uid_root = f"1.2.826.0.1.3680043.{rng.randrange(10**6)}"
    while e < n_exams:
        proto = f"PROTO_{'ABC'[subj % 3]}"
        subject = f"{2015 + subj % 3}_{subj:04d}_SUBJ{rng.randrange(10**4):04d}"
        visits = 2 if subj % 4 == 1 else 1
        day = rng.randrange(0, 600)
        for v in range(visits):
            if e >= n_exams:
                break
            series = _make_exam(
                rng,
                uid_root,
                e,
                _day(base, day + 30 * v),
                counts[e % len(counts)],
                files,
                midnight=(e == 2),
            )
            exams.append((proto, subject, series))
            e += 1
        subj += 1
    return exams


@dataclass
class CrawlTree:
    root: str
    series: list[Serie]
    n_files: int  # files written, distractors included
    n_dicom: int  # files the import must read


def crawl_tree(root: str, seed: int, n_exams: int = 6, files_per_serie: int = 12) -> CrawlTree:
    """Write the seeded crawl tree under ``root`` (which must not exist)."""
    rng = random.Random(f"crawl:{seed}")
    os.makedirs(root)
    all_series: list[Serie] = []
    n_files = 0

    def put(rel: str, blob: bytes) -> None:
        nonlocal n_files
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(blob)
        n_files += 1

    visits: dict[str, int] = {}
    for k, (proto, subject, series) in enumerate(_exam_plan(rng, n_exams, (3, 9), files_per_serie)):
        machine = MACHINES[k % 2]
        # a subject's second visit shares its directory; its series
        # numbers restart, so their directories carry the visit
        visit = visits[subject] = visits.get(subject, 0) + 1
        for s in series:
            sub = f"{proto}/{subject}/S{s.number:02d}_{SEQUENCES[s.number % 5]}_v{visit}"
            _fill_files(s, sub, machine)
            for rel, fields, ts in s.files:
                put(rel, encode_minimal_dicom(fields, transfer_syntax=ts))
            all_series.append(s)
            # distractors next to the instances: each holds a valid
            # Part-10 stream of a bogus serie, so a filter that let it
            # through would add rows and fail the check
            if s.number % 4 == 1:
                bogus = dict(s.files[0][1], SeriesInstanceUID=s.suid + ".99")
                blob = encode_minimal_dicom(bogus)
                put(f"{sub}/dicom_info_{s.number}.dic", blob)
                put(f"{sub}/.{s.number:03d}_hidden.dic", blob)
                put(f"{sub}/{s.number:03d}_header.xml", blob)
            if s.number % 4 == 3:
                put(f"{sub}/{s.number:03d}_junk.dic", rng.randbytes(160))  # no DICM
        # a non-^S series dir per exam (reconstruction/export dirs)
        s0 = series[0]
        bogus = dict(s0.files[0][1], SeriesInstanceUID=s0.suid + ".98")
        for i in range(3):
            put(f"{proto}/{subject}/export_{k:02d}/{i:05d}.dic", encode_minimal_dicom(bogus))
    n_dicom = sum(len(s.files) for s in all_series)
    return CrawlTree(root, all_series, n_files, n_dicom)


# -- landing waves -----------------------------------------------------------


class LandingWaves:
    """Serie-atomic arrival waves generated on demand.

    Wave ``w`` draws ``exams_per_wave`` new exams from the seed; the
    last 0, 1 or 2 series of each (by exam position) are held back to
    the next wave, so exams arrive split across waves, and a fifth of
    the previous wave's series is redelivered unchanged.
    """

    def __init__(self, seed: int, exams_per_wave: int = 6, files_per_serie: int = 10):
        self.seed = seed
        self.exams_per_wave = exams_per_wave
        self.files_per_serie = files_per_serie
        self._held: list[Serie] = []  # series deferred to the next wave
        self._prev: list[Serie] = []
        self._next = 0
        self.landed: dict[str, Serie] = {}  # suid -> serie landed so far

    def wave(self) -> tuple[list[tuple[str, bytes]], list[Serie]]:
        """The next wave: ``(rows, series)``; series redelivered in it
        are included in ``series``."""
        w = self._next
        self._next += 1
        rng = random.Random(f"landing:{self.seed}:{w}")
        plan = _exam_plan(rng, self.exams_per_wave, (3, 9), self.files_per_serie)
        fresh: list[Serie] = list(self._held)
        self._held = []
        for k, (_proto, _subject, series) in enumerate(plan):
            tag = f"w{w:04d}e{k:02d}"
            for s in series:
                s.suid = f"{s.suid}.{w}"
                s.study = f"{s.study}.{w}"
                _fill_files(s, f"/landing/{tag}/S{s.number:02d}", MACHINES[k % 2])
            # split exam: its last series arrive with the next wave
            cut = len(series) - k % 3
            fresh.extend(series[:cut])
            self._held.extend(series[cut:])
        redeliver = rng.sample(self._prev, len(self._prev) // 5)
        self._prev = fresh
        rows = []
        for s in fresh + redeliver:
            for rel, fields, ts in s.files:
                rows.append((rel, encode_minimal_dicom(fields, transfer_syntax=ts)))
            self.landed[s.suid] = s
        return rows, fresh + redeliver


# -- expected DB rows (plain Python, from the generator's own fields) -------


def _acq_seconds(raw: str) -> int:
    return int(raw[:2]) * 3600 + int(raw[2:4]) * 60 + int(raw[4:6])


def expected_rows(series: list[Serie]) -> tuple[list[tuple], list[tuple]]:
    """``(serie_rows, exam_rows)`` as the DB must hold them.

    serie: (SeriesInstanceUID, SeriesNumber, EchoTime, EUID,
    AcquisitionDate, first_acq_seconds, duration_s); a stack is one
    (serie, echo time); duration is the acquisition-time step between
    its first two files in (InstanceNumber, path) order, +24 h when
    negative, NULL below two files.

    exam: (EUID, AcquisitionDate, n_series, ExamDuration,
    FirstSerieName); stacks sessionized by (study, date), first/last
    stack by (SeriesNumber, SeriesInstanceUID, EchoTime), duration =
    ceil((last start - first start [+24 h] + last stack duration) / 60).
    """
    stacks: dict[tuple, list] = {}
    for s in series:
        for rel, f, _ts in s.files:
            key = (f["SeriesInstanceUID"], int(f["SeriesNumber"]), float(f["EchoTime"]))
            stacks.setdefault(key, []).append(
                (int(f["InstanceNumber"]), rel, _acq_seconds(f["AcquisitionTimeRaw"]), f)
            )
    serie_rows = []
    for key, files in stacks.items():
        files.sort(key=lambda r: (r[0], r[1]))
        first = files[0][3]
        dur = None
        if len(files) >= 2:
            d = files[1][2] - files[0][2]
            dur = float(d + DAY_S if d < 0 else d)
        serie_rows.append(
            key
            + (
                first["StudyInstanceUID"],
                first["AcquisitionDate"],
                float(min(r[2] for r in files)),
                dur,
            )
        )
    exams: dict[tuple, list] = {}
    for r in serie_rows:
        exams.setdefault((r[3], r[4]), []).append(r)
    exam_rows = []
    for (euid, date), rows in exams.items():
        rows.sort(key=lambda r: (r[1], r[0], r[2]))
        first, last = rows[0], rows[-1]
        d = int(last[5]) - int(first[5])
        d = d + DAY_S if d < 0 else d
        d += int(last[6]) if last[6] is not None else 0
        exam_rows.append((euid, date, len(rows), math.ceil(d / 60.0), first[0]))
    return sorted(serie_rows, key=_nullsafe), sorted(exam_rows, key=_nullsafe)


def _nullsafe(row: tuple) -> tuple:
    return tuple((v is None, v if v is not None else 0) for v in row)
