"""Seeded generator of synthetic FFI export dumps, with the warehouse
rows each load is expected to insert.

It scales the shapes of ``tests/ffi_fixture.py`` up to a whole FFI
database: plots x field seasons x all five methods (trees, fine fuels in
English and Metric, witness trees, duff/litter), species GUIDs in mixed
case, personnel strings with every list delimiter, and monitoring
statuses that walk every VisitID branch (year, prefix, Base=Fire or not,
suffix Immediate / other / absent). Every database also carries the
fixture's drop cases: a plot without DateIn, a plot whose name
normalizes onto an existing PlotID, and an event on an absent plot.

A *dump* is the full export of one database after ``n_seasons`` field
seasons. Re-dump mode is a dump with one more season: every row of the
previous dump plus the new season's events, so a nightly load of it
inserts only the new season's rows.

Run ``python3 perfbench/ffigen.py --seed 7 --out DIR [--redump]`` to
write the benchmark's dumps (and their next-season re-dumps) and print
each file's expected per-table insert counts.
"""

from __future__ import annotations

import argparse
import json
import os
import random
from dataclasses import dataclass, field

NS = "http://tempuri.org/FFIExport.xsd"

# (key, Method_Name, Method_UnitSystem) — the fixture's five methods
METHODS = (
    ("tree", "Trees - Individuals", "English"),
    ("fine_e", "Surface Fuels - Fine", "English"),
    ("fine_m", "Surface Fuels - Fine", "Metric"),
    ("wit", "Plot Info Wit Trees Comments3", "English"),
    ("duff", "Surface Fuels - Duff - Litter", "English"),
)
ATTR_FIELDS = {
    "tree": ("TagNo", "TreeSpp", "DBH"),
    "fine_e": ("Transect", "Azimuth", "Slope", "Hits"),
    "fine_m": ("Transect", "Azimuth", "Slope", "Hits"),
    "wit": ("WitDBH", "WitComment"),
}
# warehouse table of each method's per-sample-row output
SAMPLE_TABLES = {
    "tree": "Trees_Individuals_Sample",
    "fine_e": "SurfaceFuels_Fine_Sample",
    "fine_m": "SurfaceFuels_Fine_Metric_Sample",
    "wit": "PlotInfoWitTreesComments3_Sample",
    "duff": "SurfaceFuels_Duff_Litter_Sample",
}
TABLES = (
    "MacroPlot",
    "SampleEvent",
    "ProjectUnit",
    "ProjectVisit",
    "Transect",
    "Trees_Individuals_Attribute",
    "SurfaceFuels_Fine_Attribute",
    "SurfaceFuels_Fine_Metric_Attribute",
    "PlotInfoWitTreesComments3_Attribute",
    *SAMPLE_TABLES.values(),
)
_CREW = ("Gil Perez", "Rosa Lee", "Ana Diaz", "Mo Chen", "Jo Kim",
         "Lee Roy", "Sam Hill", "Ida Bell", "Tom Ruiz", "Kai Ono")
_DELIMS = (", ", " ", "/")
_SUFFIXES = ("Immediate", "Post", None)
BASE_YEAR = 1990
# the benchmark's site: three databases sharing 12 plots, skewed
# 7:3:2, each dumped after 19 field seasons (about 4 MB in all), so that
# one more season adds about 5% new rows
DATABASES = 3
PLOTS = 12
BASE_SEASONS = 19


@dataclass
class Plot:
    index: int
    trees: int  # trees tallied per visit
    transects: int  # fine-fuel transects per visit, per unit system
    project: int


@dataclass
class Database:
    """One synthetic FFI database: its fixed layout is drawn from the
    seed once; seasons are rendered on demand."""

    db: int
    seed: int
    plots: list[Plot] = field(default_factory=list)
    n_projects: int = 2
    n_species: int = 6

    @property
    def tag(self) -> str:
        return f"{self.db:04d}"

    @property
    def admin_unit(self) -> str:
        # normalized PlotIDs start with the first 5 characters of this
        # name, so they stay disjoint across databases
        return f"U{self.db:04d} North Rim"


def make_database(seed: int, db: int, n_plots: int) -> Database:
    rng = random.Random(f"{seed}/db/{db}")
    d = Database(db=db, seed=seed)
    # every project gets plots: a monitoring status with no events would
    # load a ProjectVisit row with a null event key on every night
    d.n_projects = min(1 + db % 3, n_plots)
    # per-plot tallies are a seeded shuffle of a fixed cycle, so a
    # database's size depends on its plot count, not on the seed
    trees = [3 + i % 7 for i in range(n_plots)]
    transects = [2 + i % 3 for i in range(n_plots)]
    rng.shuffle(trees)
    rng.shuffle(transects)
    d.plots = [
        Plot(index=i, trees=trees[i], transects=transects[i],
             project=i % d.n_projects)
        for i in range(n_plots)
    ]
    return d


def _row(tag: str, fields: dict[str, object]) -> str:
    cells = "".join(
        f"<{k}>{v}</{k}>" for k, v in fields.items() if v is not None
    )
    return f"<{tag}>{cells}</{tag}>"


def _team(rng: random.Random) -> str:
    names = rng.sample(_CREW, rng.randint(1, 3))
    return rng.choice(_DELIMS).join(names)


def _mixed_case(rng: random.Random, s: str) -> str:
    return s.upper() if rng.random() < 0.5 else s.lower()


def render(d: Database, n_seasons: int) -> tuple[str, int]:
    """XML text of ``d``'s dump after ``n_seasons`` seasons, and its
    number of data rows (depth-1 elements under the root)."""
    t = d.tag
    rows: list[str] = [_row("Schema_Version", {"Schema_Version": "1.05"})]
    ru = f"ru-{t}"
    rows.append(_row("RegistrationUnit", {
        "RegistrationUnit_GUID": ru,
        "RegistrationUnit_Name": d.admin_unit,
        "RegistrationUnit_Comment": "synthetic",
    }))
    for p in d.plots:
        rows.append(_row("MacroPlot", {
            "MacroPlot_GUID": f"mp-{t}-{p.index}",
            "MacroPlot_Name": f"Plot-{p.index}",
            "MacroPlot_RegistrationUnit_GUID": ru,
            "MacroPlot_DateIn": "1989-01-01T00:00:00",
            "MacroPlot_Elevation": str(1800 + 7 * p.index),
        }))
    # decoy normalizing onto Plot-0's PlotID (later DateIn: dropped) and
    # a plot without DateIn (dropped); neither has events
    rows.append(_row("MacroPlot", {
        "MacroPlot_GUID": f"mp-{t}-decoy",
        "MacroPlot_Name": "Plot 0",
        "MacroPlot_RegistrationUnit_GUID": ru,
        "MacroPlot_DateIn": "1999-06-01T00:00:00",
    }))
    rows.append(_row("MacroPlot", {
        "MacroPlot_GUID": f"mp-{t}-nodate",
        "MacroPlot_Name": "Plot_undated",
        "MacroPlot_RegistrationUnit_GUID": ru,
    }))
    mguid = {k: f"m-{k}-{t}" for k, _n, _u in METHODS}
    for k, name, unit in METHODS:
        rows.append(_row("Method", {"Method_GUID": mguid[k],
                                    "Method_Name": name,
                                    "Method_UnitSystem": unit}))
    att_id: dict[tuple[str, str], int] = {}
    for k, fields in ATTR_FIELDS.items():
        for f in fields:
            att_id[(k, f)] = 10 + len(att_id)
            rows.append(_row("MethodAttribute", {
                "MethodAtt_ID": att_id[(k, f)],
                "MethodAtt_Method_GUID": mguid[k],
                "MethodAtt_FieldName": f,
            }))
    samp_id: dict[tuple[str, str], int] = {}
    for k, _n, _u in METHODS:
        for f in ("FieldTeam", "EntryTeam"):
            samp_id[(k, f)] = 100 + len(samp_id)
            rows.append(_row("SampleAttribute", {
                "SampleAtt_ID": samp_id[(k, f)],
                "SampleAtt_Method_GUID": mguid[k],
                "SampleAtt_FieldName": f,
            }))
    species = [f"ls-{t}-{i}" for i in range(d.n_species)]
    for i, g in enumerate(species):
        rows.append(_row("LocalSpecies", {"LocalSpecies_GUID": g.upper(),
                                          "LocalSpecies_Symbol": f"SP{i:02d}"}))
    for j in range(d.n_projects):
        rows.append(_row("ProjectUnit", {
            "ProjectUnit_GUID": f"pu-{t}-{j}",
            "ProjectUnit_Name": f"Fire_Project {t} {j}",
            "ProjectUnit_Agency": "NPS",
        }))
    sr_id = 0
    ar_id = 0
    for s in range(n_seasons):
        rng = random.Random(f"{d.seed}/season/{d.db}/{s}")
        year = BASE_YEAR + s
        ms_guid = {}
        for j in range(d.n_projects):
            ms_guid[j] = f"ms-{t}-{s}-{j}"
            rows.append(_row("MonitoringStatus", {
                "MonitoringStatus_GUID": ms_guid[j],
                "MonitoringStatus_ProjectUnit_GUID": f"pu-{t}-{j}",
                "MonitoringStatus_Name": f"{s:02d}Visit",
                "MonitoringStatus_Prefix": f"{s:02d}" if (s + j) % 4 else None,
                "MonitoringStatus_Base": "Fire" if (s + j) % 2 == 0 else "Pre",
                "MonitoringStatus_Suffix": _SUFFIXES[(s + j) % 3],
            }))
        # one orphan event per season: its plot is absent -> dropped
        rows.append(_row("SampleEvent", {
            "SampleEvent_GUID": f"se-{t}-{s}-orphan",
            "SampleEvent_Plot_GUID": f"mp-{t}-absent",
            "SampleEvent_Date": f"{year}-07-01T00:00:00",
        }))
        for p in d.plots:
            se = f"se-{t}-{s}-{p.index}"
            month, day = 5 + p.index % 4, 1 + p.index % 28
            tz = "-06:00" if p.index % 3 == 0 else ""
            rows.append(_row("SampleEvent", {
                "SampleEvent_GUID": se,
                "SampleEvent_Plot_GUID": f"mp-{t}-{p.index}",
                "SampleEvent_Date": f"{year}-{month:02d}-{day:02d}T09:30:00{tz}",
                "SampleEvent_Who": f"Crew {p.index % 5}",
            }))
            rows.append(_row("MM_MonitoringStatus_SampleEvent", {
                "MM_MonitoringStatus_GUID": ms_guid[p.project],
                "MM_SampleEvent_GUID": se,
            }))
            srow: dict[str, int] = {}
            for k, _n, _u in METHODS:
                sr_id += 1
                srow[k] = sr_id
                rows.append(_row("SampleRow", {
                    "SampleRow_ID": sr_id,
                    "SampleRow_Original_GUID": f"sr-{t}-{s}-{p.index}-{k}",
                    "SampleRow_CreatedBy": "synth",
                }))
                for f, v in (("FieldTeam", _team(rng)),
                             ("EntryTeam", rng.choice(_CREW))):
                    rows.append(_row("SampleData", {
                        "SampleData_SampleRow_ID": sr_id,
                        "SampleData_SampleAtt_ID": samp_id[(k, f)],
                        "SampleData_SampleEvent_GUID": se,
                        "SampleData_Value": v,
                    }))

            def attribute_row(k: str, values: dict[str, str]) -> None:
                nonlocal ar_id
                ar_id += 1
                g = f"dr-{t}-{s}-{p.index}-{ar_id}"
                rows.append(_row("AttributeRow", {
                    "AttributeRow_ID": ar_id,
                    "AttributeRow_DataRow_GUID": g,
                    "AttributeRow_Original_GUID": g.upper(),
                }))
                for f, v in values.items():
                    rows.append(_row("AttributeData", {
                        "AttributeData_DataRow_ID": ar_id,
                        "AttributeData_MethodAtt_ID": att_id[(k, f)],
                        "AttributeData_SampleRow_ID": srow[k],
                        "AttributeData_Value": v,
                    }))

            for i in range(p.trees):
                # every third tree repeats the previous tag and species:
                # a multi-stem tree (StemNum 1, 2)
                tag = i - 1 if i % 3 == 2 else i
                attribute_row("tree", {
                    "TagNo": f"{tag:03d}",
                    "TreeSpp": _mixed_case(rng, species[(tag + p.index) % d.n_species]),
                    "DBH": f"{rng.uniform(2, 60):.1f}",
                })
            for k in ("fine_e", "fine_m"):
                for i in range(p.transects):
                    attribute_row(k, {
                        "Transect": f"T{i + 1}",
                        "Azimuth": str(rng.randrange(0, 360, 5)),
                        "Slope": str(rng.randint(0, 40)),
                        "Hits": str(rng.randint(0, 30)),
                    })
            for edge in ("north", "south"):
                attribute_row("wit", {
                    "WitDBH": str(rng.randint(10, 90)),
                    "WitComment": f"{edge} edge",
                })
    body = "\n".join(rows)
    xml = f'<?xml version="1.0"?>\n<FFIData xmlns="{NS}">\n{body}\n</FFIData>\n'
    return xml, len(rows)


def expected_inserts(d: Database, seasons: range) -> dict[str, int]:
    """Warehouse rows a load inserts for ``seasons`` of ``d`` whose
    earlier seasons are already loaded. Plots and projects are new only
    when the range starts at season 0."""
    first = seasons.start == 0
    n = len(seasons)
    out = dict.fromkeys(TABLES, 0)
    out["MacroPlot"] = len(d.plots) if first else 0
    out["ProjectUnit"] = d.n_projects if first else 0
    per_event = n * len(d.plots)
    out["SampleEvent"] = per_event
    out["ProjectVisit"] = per_event
    out["PlotInfoWitTreesComments3_Attribute"] = per_event
    for table in SAMPLE_TABLES.values():
        out[table] = per_event
    out["Trees_Individuals_Attribute"] = n * sum(p.trees for p in d.plots)
    transects = n * sum(p.transects for p in d.plots)
    out["SurfaceFuels_Fine_Attribute"] = transects
    out["SurfaceFuels_Fine_Metric_Attribute"] = transects
    out["Transect"] = transects
    return out


def add_counts(a: dict[str, int], b: dict[str, int]) -> dict[str, int]:
    return {k: a.get(k, 0) + b.get(k, 0) for k in a.keys() | b.keys()}


def write_dump(d: Database, n_seasons: int, path: str) -> tuple[int, int]:
    """Write the dump; return (bytes, data rows)."""
    xml, n_rows = render(d, n_seasons)
    data = xml.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data), n_rows


def skewed_plot_counts(seed: int, n_dbs: int, total_plots: int) -> list[int]:
    """Split ``total_plots`` over ``n_dbs`` databases with Zipf-like
    skew (the largest about ``n_dbs`` times the smallest), order shuffled
    by the seed."""
    weights = [1.0 / (i + 1) for i in range(n_dbs)]
    scale = total_plots / sum(weights)
    counts = [max(2, round(w * scale)) for w in weights]
    random.Random(f"{seed}/skew").shuffle(counts)
    return counts


def site(seed: int) -> list[Database]:
    """The benchmark's databases for ``seed``."""
    counts = skewed_plot_counts(seed, DATABASES, PLOTS)
    return [make_database(seed, db, n) for db, n in enumerate(counts)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--redump", action="store_true",
                    help="also write each database's next-season re-dump")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    report = []
    for d in site(args.seed):
        dumps = [range(BASE_SEASONS)]
        if args.redump:
            dumps.append(range(BASE_SEASONS, BASE_SEASONS + 1))
        for seasons in dumps:
            path = os.path.join(args.out, f"ffi_{d.tag}_s{seasons.stop:03d}.xml")
            nbytes, nrows = write_dump(d, seasons.stop, path)
            report.append({"file": path, "bytes": nbytes, "rows": nrows,
                           "expected": expected_inserts(d, seasons)})
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
