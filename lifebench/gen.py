#!/usr/bin/env python3
"""Seeded input generator for the lifecycle benchmark.

Writes the reference-shaped inputs one workload needs (FIXTURES.md A1-A5,
plus, for lake_index, the catalog tables its traced run's ext probes read)
and, next to them, `expected.json`: the counts every output check compares
against. The program under test only ever sees the generated files.

    python3 lifebench/gen.py --workload bdc_ingest --seed 7 --out DIR

The same seed always yields byte-identical files.
"""
import argparse
import json
import os
import random
import re

# Input sizes per workload (see DESIGN.md for how they were chosen).
BDC_STUDIES = 1370          # Gen3 SLMD rows: the reference's study universe
BDC_VARIABLES = 4000        # PicSure VLMD rows
HEAL_STUDIES = 12           # MDS documents
HEAL_FIELDS_PER_STUDY = 146  # ~2e5 fields / 1,370 studies, as in the reference
HEAL_MAPPING_ROWS = 1370    # the HDPID mapping CSV keeps its full size
LAKE_STUDIES = 6            # studies on the `main` branch
EXT_DOCS = 600              # catalog `documents` rows (ext probes)
EXT_ORDERS = 6000           # catalog `orders` rows (4 lineitems each)

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small big customer query order "
         "group stream filter vector the a").split()
LABELS = ["Male", "Female", "Don't know", "Yes, often", 'Said "no"',
          "Unknown", "None", "1-3 times", "Refused, partial", "Other"]
PROGRAMS = ["topmed|parent", "covid19", "BioLINCC", "COVID 19|imaging",
            "parent", "RECOVER", "lungmap"]
STUDY_TYPES = ["HEAL Research Network", "HEAL Studies", "CTN Protocol",
               "Research Programs"]


def words(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def csv_cell(s):
    if s is None:
        return ""
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(csv_cell(h) for h in header) + "\n")
        for r in rows:
            f.write(",".join(csv_cell(c) for c in r) + "\n")


def py_literal(values):
    """Python's repr of a list of str, as the reference's CSV carries it."""
    return repr(list(values))


def program_dir(program):
    """The directory BdcIngest derives from a Program value
    (Projections.normalizeName): first pipe token, trimmed, [ /] -> _,
    lower-cased."""
    s = re.sub(r"[ /]", "_", program.split("|", 1)[0].strip()).lower()
    return s or "unknown_program"


# ---------------------------------------------------------------- BDC (A1/A2)
#
# Every seed yields the same shape (row, table, reject and orphan counts);
# the seed picks which rows carry each property and all the text.

def gen_bdc(rng, out):
    header3 = ["Accession", "Consent", "Study Name", "Program", "Last modified",
               "Notes", "Description"]
    required = ["Consent", "Study Name", "Program", "Description"]
    ids = ["phs%06d" % (1000 + i * 7) for i in range(BDC_STUDIES)]
    rejected = set(rng.sample(range(BDC_STUDIES), round(BDC_STUDIES * 0.03)))
    gen3_rows, valid = [], []
    for i, phs in enumerate(ids):
        row = {"Accession": "%s.v%d" % (phs, rng.randint(1, 40)),
               "Consent": "c%d" % rng.randint(1, 3),
               "Study Name": "Study %d: %s" % (i, words(rng, 2, 5)),
               "Program": rng.choice(PROGRAMS),
               "Last modified": "2026-08-%02d" % rng.randint(1, 28),
               "Notes": "Name: S%d, short name: S%d." % (i, i),
               "Description": words(rng, 8, 30)}
        if i in rejected:
            # fails validation: a required field null or blank
            row[rng.choice(required)] = rng.choice([None, "", "  "])
        else:
            valid.append(phs)
        gen3_rows.append([row[h] for h in header3])
    write_csv(os.path.join(out, "gen3.csv"), header3, gen3_rows)

    # tables of 4..26 variables in a fixed size sequence; 1% of the tables
    # belong to studies Gen3 does not have (orphans), the rest to distinct
    # valid studies
    sizes, n = [], 0
    while n < BDC_VARIABLES:
        sizes.append(min(4 + len(sizes) % 23, BDC_VARIABLES - n))
        n += sizes[-1]
    orphan_tables = set(rng.sample(range(len(sizes)), max(1, len(sizes) // 100)))
    owners = rng.sample(valid, len(sizes))
    non_phv = set(rng.sample(range(BDC_VARIABLES), BDC_VARIABLES // 50))
    null_desc = set(rng.sample(sorted(set(range(BDC_VARIABLES)) - non_phv),
                               BDC_VARIABLES // 100))
    categorical = set(rng.sample(range(BDC_VARIABLES), BDC_VARIABLES // 4))
    header = ["studyId", "dtId", "varId", "derived_var_name",
              "derived_group_name", "description", "columnmeta_name",
              "columnmeta_description", "columnmeta_var_group_description",
              "is_categorical", "values"]
    rows = []
    kept = dropped = orphan = values_written = values_quoted = 0
    tables = set()  # tables with at least one variable in the XML
    for t, size in enumerate(sizes):
        orphaned = t in orphan_tables
        study = "phs%06d" % (900000 + t) if orphaned else owners[t]
        dt = "pht%06d" % (t + 1)
        for _ in range(size):
            v = len(rows)
            var_id = "phv%08d" % (v + 1) if v not in non_phv else "dbgap_%d" % (v + 1)
            desc = None if v in null_desc else words(rng, 3, 12)
            name = "V%d_%s" % (v + 1, rng.choice(WORDS).upper())
            vals = rng.sample(LABELS, rng.randint(2, 6)) if v in categorical else None
            rows.append([study, dt, var_id, name, "grp_%s" % dt, desc, name, desc,
                         "Variables of table %s" % dt,
                         "True" if vals else "False", py_literal(vals) if vals else ""])
            if v in non_phv or desc is None:
                dropped += 1
            elif orphaned:
                orphan += 1
            else:
                kept += 1
                tables.add(dt)
                if vals:
                    values_written += len(vals)
                    if '"' in py_literal(vals):
                        values_quoted += len(vals)
    write_csv(os.path.join(out, "picsure.csv"), header, rows)
    expected = {
        "gen3_rows": BDC_STUDIES, "gen3_valid": len(valid),
        "gen3_rejected": len(rejected),
        "picsure_rows": len(rows), "picsure_written": kept,
        "picsure_dropped": dropped, "picsure_orphan": orphan,
        "data_table_docs": len(tables), "gapexchange_docs": len(valid),
        "value_elements": values_written,
        # values of lists whose CSV cell carries a doubled quote (RFC 4180,
        # as pandas writes it): the known-defect check counts these
        "value_elements_quoted": values_quoted,
    }
    # the catalog tables the traced run's ext probes read
    expected["ext"] = gen_ext(rng, out)
    return expected


# ---------------------------------------------------------------- HEAL (A3/A5)

def heal_field(rng, k, name):
    """Field k of a dictionary: alias forms and encodings rotate with k,
    the text is random."""
    f = {("name", "name", "property")[k % 3]: name,
         "title": words(rng, 1, 4), "description": words(rng, 4, 14),
         "type": ("integer", "string", "number", "boolean")[k % 4],
         ("section", "module", "section", "node")[k % 4]: "sec_%d" % (k % 6 + 1)}
    if k % 10 < 3:
        n = 2 + k % 4
        labels = rng.sample(LABELS, n)
        cons = {"minimum": 0, "maximum": n, "enum": [str(i) for i in range(1, n + 1)]}
        if k % 2:
            f["enumLabels"] = {str(i + 1): labels[i] for i in range(n)}
        else:
            cons["encodings"] = "|".join("%d=%s" % (i + 1, labels[i]) for i in range(n))
        f["constraints"] = cons
    elif k % 10 < 5:
        f["constraints"] = {"minimum": rng.randint(0, 5), "maximum": rng.randint(10, 99)}
    return f


def gen_heal(rng, out):
    mds = os.path.join(out, "mds")
    os.makedirs(mds)
    n_dds = [1 + s % 3 for s in range(HEAL_STUDIES)]
    # ~2% of the dictionaries are 404 stubs, never a study's only one
    multi = [(s, d) for s in range(HEAL_STUDIES) for d in range(n_dds[s]) if n_dds[s] > 1]
    stubs = set(rng.sample(multi, max(1, round(sum(n_dds) * 0.02))))
    fields = docs = 0
    for s in range(HEAL_STUDIES):
        hdp = "HDP%05d" % (s * 10 + 1)
        live = [d for d in range(n_dds[s]) if (s, d) not in stubs]
        dds, dd_map = [], {}
        for d in range(n_dds[s]):
            dd_id = "HEALCDE:dd-%d" % (s * 3 + d + 1)
            label = "CRF %d" % (d + 1)
            dd_map[label] = dd_id
            if (s, d) in stubs:
                dds.append({"@id": dd_id, "error": "404 Client Error: Not Found",
                            "fields": []})
                continue
            n_f = HEAL_FIELDS_PER_STUDY // len(live) + (
                HEAL_FIELDS_PER_STUDY % len(live) if d == live[0] else 0)
            names = ["f%03d_%s" % (k, rng.choice(WORDS)) for k in range(n_f)]
            # ~2% duplicate names, which the index uniquifies
            for k in rng.sample(range(1, n_f), max(1, n_f // 50)):
                names[k] = names[rng.randrange(k)]
            dds.append({"@id": dd_id, "label": label,
                        "fields": [heal_field(rng, k, names[k]) for k in range(n_f)]})
            fields += n_f
            docs += 1
        doc = {
            "gen3_discovery": {
                "_hdp_uid": hdp, "appl_id": str(10000000 + s),
                "date_added": "2024-03-%02d" % rng.randint(1, 28),
                "project_title": "Project %d %s" % (s, words(rng, 2, 5)),
                "research_program": rng.choice(["NIDA", "NINDS", "NIAMS"]),
                "study_metadata": {"minimal_info": {
                    "study_name": "Study %d" % s,
                    "study_description": words(rng, 10, 40)}},
                "study_description_summary": words(rng, 5, 15)},
            "nih_reporter": {"project_start_date": "2020-01-01",
                             "project_end_date": "2024-12-31"},
            "variable_level_metadata": {"data_dictionaries": dd_map},
            "data_dictionaries": dds,
        }
        with open(os.path.join(mds, hdp + ".json"), "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
    rows = []
    for i in range(HEAL_MAPPING_ROWS):
        part = rng.random() < 0.4
        rows.append(["HDP%05d" % (i * 10 + 1), "Yes" if part else "No",
                     rng.choice(STUDY_TYPES),
                     ("Network %d" % rng.randint(1, 9)) if part else ""])
    write_csv(os.path.join(out, "mapping.csv"),
              ["HDPID", "Part of a Research Network?", "HEAL Study Type",
               "Research Network Name"], rows)
    return {"data_dictionaries": sum(n_dds),
            "stub_dictionaries": len(stubs), "fields": fields,
            "xml_docs": docs, "mapping_rows": HEAL_MAPPING_ROWS}


# ---------------------------------------------------------------- LakeFS (A4)

def xml_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;"))


def write_data_table(path, dt, study, name, desc, variables):
    lines = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<?xml-stylesheet type="text/xsl" href="./datadict_v2.xsl"?>',
             '<data_table id="%s" study_id="%s" participant_set="1" study_name="%s">'
             % (dt, study, xml_escape(name)),
             "  <description>%s</description>" % xml_escape(desc)]
    for vid, vname, vdesc, vals in variables:
        lines.append('  <variable id="%s">' % vid)
        lines.append("    <name>%s</name>" % vname)
        lines.append("    <title>%s</title>" % vname)
        lines.append("    <description>%s</description>" % xml_escape(vdesc))
        lines.append("    <type>%s</type>" % ("encoded value" if vals else "string"))
        for i, v in enumerate(vals):
            lines.append('    <value code="%d">%s</value>' % (i + 1, xml_escape(v)))
        lines.append("  </variable>")
    lines.append("</data_table>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def write_gapexchange(path, study, name, desc):
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<GaPExchange>\n'
                '  <Studies>\n    <Study accession="%s">\n      <Configuration>\n'
                '        <StudyNameEntrez>%s</StudyNameEntrez>\n'
                '        <Description>%s</Description>\n      </Configuration>\n'
                '    </Study>\n  </Studies>\n</GaPExchange>\n'
                % (study, xml_escape(name), xml_escape(desc)))


def gen_lake(rng, out):
    """Two branches of a dbGaP-layout tree, in BdcIngest's output paths:
    <program_dir>/<accession>/<dtId>.data_dict.xml plus GapExchange. The
    shape is fixed: the last study is not yet on `prev`, and `prev` tables
    carry up to three fewer variables."""
    studies = []
    for i in range(LAKE_STUDIES):
        acc = "phs%06d.v%d" % (2000 + i * 3, rng.randint(1, 30))
        tables = []
        for t in range(3 + i % 4):
            tables.append(("pht%06d" % (i * 100 + t), [
                ("phv%08d" % (i * 10000 + t * 100 + v),
                 "V%d_%d" % (t, v), words(rng, 3, 10),
                 rng.sample(LABELS, rng.randint(2, 5)) if v % 4 == 0 else [])
                for v in range(8 + (i * 7 + t * 5) % 23)]))
        studies.append((acc, program_dir(rng.choice(PROGRAMS)), tables))
    missing = LAKE_STUDIES - 1
    expected = {"branch_variables": {}, "branch_studies": {}}
    per_study = {}
    for branch in ("main", "prev"):
        root = os.path.join(out, "lake", branch)
        n_vars = n_studies = 0
        for i, (acc, prog, tables) in enumerate(studies):
            if branch == "prev" and i == missing:
                continue
            sdir = os.path.join(root, prog, acc)
            os.makedirs(sdir)
            n_studies += 1
            study_vars = 0
            for t, (dt, variables) in enumerate(tables):
                if branch == "prev":
                    variables = variables[:len(variables) - t % 4]
                write_data_table(os.path.join(sdir, dt + ".data_dict.xml"), dt, acc,
                                 "Study " + acc, "Variables of " + dt, variables)
                study_vars += len(variables)
            write_gapexchange(os.path.join(sdir, "GapExchange_%s.xml" % acc),
                              acc, "Study " + acc, "Description of " + acc)
            n_vars += study_vars
            per_study.setdefault(acc, {})[branch] = study_vars
        expected["branch_variables"][branch] = n_vars
        expected["branch_studies"][branch] = n_studies
    expected["index_rows"] = len(per_study)
    # order-independent digest of the pivot, one term per (study, main, prev)
    expected["pivot_digest"] = pivot_digest(
        (acc, c.get("main", 0), c.get("prev", 0)) for acc, c in per_study.items())
    # the catalog tables the traced run's ext probes read
    expected["ext"] = gen_ext(rng, out)
    return expected


def pivot_digest(rows):
    import hashlib
    total = 0
    for acc, m, p in rows:
        h = hashlib.sha256(("%s|%d|%d" % (acc, m, p)).encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return str(total)


# ---------------------------------------------------------------- ext tables

def gen_ext(rng, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    ext = os.path.join(out, "ext")
    os.makedirs(ext)
    texts = []
    for i in range(EXT_DOCS):
        if texts and rng.random() < 0.15:
            # near duplicate of an earlier document: dup clusters exist
            base = rng.choice(texts).split()
            j = rng.randrange(len(base))
            base[j] = rng.choice(WORDS)
            texts.append(" ".join(base))
        else:
            texts.append(words(rng, 10, 90))
    docs = pa.table({
        "doc_id": pa.array(range(EXT_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "de", "fr", "es", "zh"])
                          for _ in texts], pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(EXT_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(docs, os.path.join(ext, "documents.parquet"))
    n_cust = max(10, EXT_ORDERS // 10)
    n_supp = max(10, EXT_ORDERS // 150)
    orders = pa.table({
        "o_orderkey": pa.array(range(1, EXT_ORDERS + 1), pa.int64()),
        "o_custkey": pa.array([rng.randint(1, n_cust) for _ in range(EXT_ORDERS)],
                              pa.int64())})
    pq.write_table(orders, os.path.join(ext, "orders.parquet"))
    lk, ls, lq = [], [], []
    for o in range(1, EXT_ORDERS + 1):
        for _ in range(4):
            lk.append(o)
            ls.append(rng.randint(1, n_supp))
            lq.append(float(rng.randint(1, 50)))
    pq.write_table(pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_suppkey": pa.array(ls, pa.int64()),
        "l_quantity": pa.array(lq, pa.float64())}),
        os.path.join(ext, "lineitem.parquet"))
    # x59e ranks every node of the final graph: customers (even ids) and
    # suppliers (odd ids) that occur on an order's line items
    return {"documents": EXT_DOCS, "orders": EXT_ORDERS, "lineitem": len(lk),
            "x59e_nodes": len(set(orders.column("o_custkey").to_pylist()))
            + len(set(ls))}


GENERATORS = {"bdc_ingest": gen_bdc, "heal_ingest": gen_heal,
              "lake_index": gen_lake}


def generate(workload, seed, out):
    """Write `workload`'s inputs under `out` (created fresh) and return the
    expected counts, which are also written to `out/expected.json`."""
    os.makedirs(out)
    # one independent stream per workload, so sizes of one never shift another
    rng = random.Random("%s:%d" % (workload, seed))
    expected = GENERATORS[workload](rng, out)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
