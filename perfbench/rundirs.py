"""Seeded generator of sequencing run folders for the ``run_ingest``
workload.

Each run folder holds what a finished Illumina run plus its demux step
leave behind: ``SampleSheet.csv`` (v1 ``[Data]`` or v2
``[BCLConvert_Data]``), ``RunInfo.xml``, ``Stats.json``, small gzipped
fastqs under ``fastq/<project>/`` and the ``RTAComplete.txt`` marker.
The generator also returns, per run, the totals a correct registration
must produce, so the benchmark can check the pipeline's output.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass, field

import numpy as np

# One cycle of the workload registers one run of every slot: every
# platform and sheet version, from 4 to 96 samples.  The HiSeq run (v1
# sheet with lanes and a 10X sample) is valid and goes through the
# whole pipeline.  The MiSeq run (v1 sheet without lanes) and the
# NextSeq run (v2 sheet) each carry one injected metadata error, so
# demux never ran on them: they hold no fastqs or Stats.json and are
# registered as rejected after validation.  The slots are the same in
# every cycle and for every seed, so every window and every traced
# cycle does the same work.
# (platform model, instrument id, sheet version, lanes per flowcell,
#  samples, 10X samples, injected error)
SLOTS = [
    ("HISEQ4000", "K00345", "v1", 8, 24, 1, False),
    ("MISEQ", "M03291", "v1", 1, 96, 0, True),
    ("NEXTSEQ2000", "VH00123", "v2", 4, 4, 0, True),
]
TENX_KITS = ["SI-GA-A1", "SI-GA-A2", "SI-GA-B1", "SI-NA-A1"]
ERROR_KINDS = ["bad_index", "id_equals_name", "unregistered"]
_BASES = np.array(list("ACGT"))
_FASTQ_REC = b"@r%d\nACGTACGTAC\n+\nFFFFFFFFFF\n"


@dataclass
class RunSpec:
    seqrun_id: str
    flowcell: str
    platform: str
    version: str
    path: str
    #: (project, sample_id) of every sheet row, registered in the
    #: metadata store before the run arrives (minus an injected
    #: ``unregistered`` row)
    metadata: list[tuple[str, str]] = field(default_factory=list)
    error: str | None = None
    experiments: int = 0
    runs: int = 0
    files: int = 0
    reads: int = 0
    lanes: int = 0


def _barcode(rng: np.random.RandomState, n: int) -> str:
    return "".join(_BASES[rng.randint(0, 4, n)])


def _write_fastq(path: str, n_reads: int) -> None:
    # mtime=0 keeps the gzip header free of wall-clock bytes
    with open(path, "wb") as raw, gzip.GzipFile(
        fileobj=raw, mode="wb", mtime=0, compresslevel=1
    ) as fh:
        fh.write(b"".join(_FASTQ_REC % i for i in range(n_reads)))


def generate(root: str, seed: int, cycle: int, write: bool = True) -> list[RunSpec]:
    """The run folders of one cycle, one per slot, written under
    ``root`` (with ``write=False`` only their specs).

    The seed draws barcodes, names, read counts, the 10X kit and the
    kind and row of each injected error; the cycle number only changes
    identifiers, so all cycles of a seed have the same shape.
    """
    from data_management_python_spark.sources.singlecell import (  # noqa: PLC0415
        TENX_KIT_BARCODES,
    )

    draw = np.random.RandomState(seed)
    kit = TENX_KITS[int(draw.randint(0, len(TENX_KITS)))]
    specs: list[RunSpec] = []
    for slot, (model, instrument, version, max_lanes, n_samples, n_tenx, bad) in enumerate(SLOTS):
        rng = np.random.RandomState([seed, slot])
        flowcell = f"H{_barcode(rng, 6).replace('T', 'K')}{cycle:03d}"
        number = cycle * len(SLOTS) + slot + 1
        seqrun_id = f"26{1 + cycle // 28:02d}{1 + cycle % 28:02d}_{instrument}_{number:04d}_A{flowcell}"
        path = os.path.join(root, seqrun_id)
        spec = RunSpec(seqrun_id, flowcell, model, version, path)
        n_lanes = 1 if model == "MISEQ" else min(max_lanes, 1 + n_samples // 24)
        paired = model != "MISEQ"
        tag = f"{seed % 1000:03d}{cycle:03d}{slot}"
        projects = [f"IGFQ{tag}{p}" for p in range(1 + n_samples // 40)]
        rows = []  # (lane, sample_id, sample_name, index, index2, project, desc)
        used: dict[str, set[str]] = {}
        for s in range(n_samples):
            lane = str(1 + s % n_lanes)
            sid = f"IGF{tag}{s:03d}"
            name = f"S{tag}x{s:03d}{_barcode(rng, 3)}"
            project = projects[s % len(projects)]
            if s < n_tenx:
                rows.append((lane, sid, name, kit, "", project, "10X"))
                continue
            while True:
                i7, i5 = _barcode(rng, 8), _barcode(rng, 8)
                if i7 + i5 not in used.setdefault(lane, set()):
                    used[lane].add(i7 + i5)
                    break
            rows.append((lane, sid, name, i7, i5, project, ""))
        error = ERROR_KINDS[int(draw.randint(0, len(ERROR_KINDS)))] if bad else None
        victim = int(draw.randint(0, n_samples)) if bad else -1
        if bad:
            spec.error = error
            lane, sid, name, i7, i5, project, desc = rows[victim]
            if error == "bad_index":
                rows[victim] = (lane, sid, name, "ACGTXXGT", i5, project, "")
            elif error == "id_equals_name":
                rows[victim] = (lane, sid, sid, i7, i5, project, desc)
        spec.metadata = [
            (r[5], r[1]) for i, r in enumerate(rows)
            if not (error == "unregistered" and i == victim)
        ]
        # demux outputs: one fastq (pair) per expanded sample and lane
        lanes_of: dict[str, list] = {}
        for lane, sid, name, i7, i5, project, desc in ([] if bad else rows):
            if desc == "10X":
                subs = [
                    (f"{sid}_{j + 1}", f"{name}_{j + 1}", bc, "")
                    for j, bc in enumerate(TENX_KIT_BARCODES[i7])
                ]
            else:
                subs = [(sid, name, i7, i5)]
            sheet_lanes = [lane] if version == "v1" and model != "MISEQ" else (
                ["1"] if model == "MISEQ" else ["1", "2", "3", "4"]
            )
            for ln in sheet_lanes:
                for s_id, s_name, b1, b2 in subs:
                    lanes_of.setdefault(ln, []).append(
                        (s_id, s_name, b1, b2, project)
                    )
        fastqs: list[tuple[str, int]] = []
        stats = {"RunId": seqrun_id, "ConversionResults": [], "UnknownBarcodes": []}
        s_index = 0
        for ln in sorted(lanes_of, key=int):
            demux = []
            lane_total = 0
            for s_id, s_name, b1, b2, project in lanes_of[ln]:
                s_index += 1
                n_reads = int(rng.randint(1, 20))
                stem = os.path.join("fastq", project, f"{s_name}_S{s_index}_L{int(ln):03d}")
                fastqs.append((f"{stem}_R1_001.fastq.gz", n_reads))
                if paired:
                    fastqs.append((f"{stem}_R2_001.fastq.gz", n_reads))
                spec.runs += 1
                spec.reads += n_reads
                number_reads = n_reads * 1000
                lane_total += number_reads
                demux.append({
                    "SampleId": s_id, "SampleName": s_name,
                    "NumberReads": number_reads,
                    "IndexMetrics": [{
                        "IndexSequence": b1 + (f"+{b2}" if b2 else ""),
                        "MismatchCounts": {"0": number_reads},
                    }],
                })
            unknown = {
                _barcode(rng, 8) + "+" + _barcode(rng, 8): int(rng.randint(10, 500))
                for _ in range(3)
            }
            stats["ConversionResults"].append({
                "LaneNumber": int(ln),
                "TotalClustersPF": lane_total + sum(unknown.values()),
                "DemuxResults": demux,
            })
            stats["UnknownBarcodes"].append({"Lane": int(ln), "Barcodes": unknown})
        spec.files = len(fastqs)
        spec.experiments = len({s for ln in lanes_of.values() for s, *_ in ln})
        spec.lanes = len(lanes_of)
        specs.append(spec)
        if not write:
            continue
        os.makedirs(path)
        _write_sheet(path, version, model, rows)
        _write_runinfo(path, seqrun_id, flowcell, instrument, max_lanes)
        for rel, n_reads in fastqs:
            os.makedirs(os.path.dirname(os.path.join(path, rel)), exist_ok=True)
            _write_fastq(os.path.join(path, rel), n_reads)
        if not bad:
            with open(os.path.join(path, "Stats.json"), "w") as fh:
                json.dump(stats, fh, indent=1)
        # NovaSeq-style empty marker on some runs, RTA text on the rest
        with open(os.path.join(path, "RTAComplete.txt"), "w") as fh:
            fh.write("" if slot % 2 else "RTA 2.11.3.0\n")
    return specs


def _write_sheet(path: str, version: str, model: str, rows: list) -> None:
    if version == "v1":
        lane_col = model != "MISEQ"
        head = (["Lane"] if lane_col else []) + [
            "Sample_ID", "Sample_Name", "Sample_Plate", "Sample_Well",
            "I7_Index_ID", "index", "I5_Index_ID", "index2",
            "Sample_Project", "Description",
        ]
        lines = [
            "[Header]", "IEMFileVersion,4", "Workflow,GenerateFASTQ", "",
            "[Reads]", "151", "151", "", "[Data]", ",".join(head),
        ]
        for lane, sid, name, i7, i5, project, desc in rows:
            cells = ([lane] if lane_col else []) + [
                sid, name, "", "", "I7" if i7 and desc != "10X" else i7, i7,
                "I5" if i5 else "", i5, project, desc,
            ]
            lines.append(",".join(cells))
    else:
        # v2 keeps a Sample_Name column: the demux registration keys
        # fastq files by Sample_Name
        lines = [
            "[Header]", "FileFormatVersion,2", "InstrumentPlatform,NextSeq2000", "",
            "[Reads]", "Read1Cycles,101", "Read2Cycles,101", "Index1Cycles,8",
            "Index2Cycles,8", "", "[BCLConvert_Data]",
            "Sample_ID,Sample_Name,index,index2,Sample_Project",
        ]
        for _lane, sid, name, i7, i5, project, _desc in rows:
            lines.append(",".join([sid, name, i7, i5, project]))
    with open(os.path.join(path, "SampleSheet.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _write_runinfo(path: str, seqrun_id: str, flowcell: str, instrument: str, lanes: int) -> None:
    xml = f"""<?xml version="1.0"?>
<RunInfo Version="4">
  <Run Id="{seqrun_id}" Number="{int(seqrun_id.split('_')[2])}">
    <Flowcell>{flowcell}</Flowcell>
    <Instrument>{instrument}</Instrument>
    <Date>1/15/2026</Date>
    <Reads>
      <Read Number="1" NumCycles="151" IsIndexedRead="N" />
      <Read Number="2" NumCycles="8" IsIndexedRead="Y" />
      <Read Number="3" NumCycles="8" IsIndexedRead="Y" />
      <Read Number="4" NumCycles="151" IsIndexedRead="N" />
    </Reads>
    <FlowcellLayout LaneCount="{lanes}" SurfaceCount="2" SwathCount="1" TileCount="12" />
  </Run>
</RunInfo>
"""
    with open(os.path.join(path, "RunInfo.xml"), "w") as fh:
        fh.write(xml)
