#!/usr/bin/env python3
"""Seeded FERC Form 1 style XBRL season generator with ground truth.

Writes, into one output directory:

  ferc1-xbrl-taxonomies.zip  two taxonomy versions (form-1-2021-01-01.zip,
                             form-1-2022-01-01.zip); each holds an XSD with
                             roleType definitions plus presentation, label
                             and calculation linkbases
  ferc1-xbrl-2021.zip        N filings (`*.xbrl`), one empty submission
                             and an `rssfeed`
  truth.json                 the ground truth, computed from the planted
                             facts only: table list, rows per table,
                             facts, filings

The names match the FERC integration archives, so the directory also
serves as a `graft.xbrl.data.dir` for the x01-x04 queries.

Planted cases, in every filing: instant and duration contexts, explicit
and typed axes, contexts without an axis (the `total` fill), exact
duplicate facts, near-duplicates at different precision, `try_cast`
garbage (one context whose only fact is garbage, so no row), facts of
concepts outside the taxonomy, and calculation sets that hold except in
one filing. One filing is a restatement of the first filer's report,
published later. Schedule 001 is `Identification`.

  python3 gen_xbrl.py --seed 7 --filings 10 [--tables 64] --out DIR
"""
import argparse
import io
import json
import os
import random
import re
import zipfile

NS = "http://ferc.gov/form/2022-01-01/ferc"
ZIP_TIME = (2022, 1, 1, 0, 0, 0)
N_ROLES = 128                 # role 0 is duration-only: 1 + 127 * 2 = 255 tables
V2_ONLY_ROLES = 8             # roles added by the second taxonomy version
YEAR = 2021

WORDS_A = ["Electric", "Gas", "Plant", "Transmission", "Distribution", "Utility",
           "Operating", "Capital", "Deferred", "Regulatory", "Fuel", "Steam",
           "Hydro", "Nuclear", "Customer", "Sales"]
WORDS_B = ["Revenues", "Expenses", "Accounts", "Statistics", "Balances", "Charges",
           "Credits", "Assets"]

# column kinds drawn for generated schedules (monetary most often)
KINDS = ["monetary"] * 6 + ["integer", "string", "boolean", "date"]


def snake(raw):
    """graft.xbrl.Names.snakecase."""
    s = re.sub(r"[\-\.\s]", "_", raw)
    if not s:
        return s
    return s[0].lower() + "".join("_" + c.lower() if c.isupper() else c for c in s[1:])


def table_name(page, title):
    """graft.plans.FactTableSchema.cleanTableName for "<page> - Schedule - <title>"."""
    s = snake(f"{title}_{page}")
    return re.sub(r"_(_+)", "_", re.sub(r"\W", "", s))


# --------------------------------------------------------------- taxonomy

def make_roles(rng):
    """Role list shared by both versions; v1 omits the last roles and the
    last column of every role, so the merge adds tables and fields."""
    roles = []
    for i in range(N_ROLES):
        page = f"{i + 1:03d}"
        if i == 0:
            title = "Identification"
            cols = [("RespondentLegalCompanyName", "string", "duration"),
                    ("ReportYear", "gyear", "duration"),
                    ("ReportDate", "date", "duration"),
                    ("RespondentAddress", "string", "duration"),
                    ("IsRestatement", "boolean", "duration"),
                    ("RespondentIdentificationCode", "string", "duration")]
            axes = []
        else:
            title = f"{WORDS_A[i % len(WORDS_A)]} {WORDS_B[(i // len(WORDS_A)) % len(WORDS_B)]}"
            ncol = rng.randint(4, 16)
            cols = []
            for j in range(ncol):
                kind = rng.choice(KINDS)
                period = "duration" if j % 2 == 0 else "instant"
                cols.append((f"Sched{i:03d}Item{j:02d}", kind, period))
            # at least two monetary columns per period for calculations
            for j, period in ((ncol, "duration"), (ncol + 1, "instant"),
                              (ncol + 2, "duration"), (ncol + 3, "instant")):
                cols.append((f"Sched{i:03d}Item{j:02d}", "monetary", period))
            naxes = rng.choice([0, 0, 1, 1, 2])
            axes = [(f"Sched{i:03d}Dim{k}Axis", "typed" if k == 1 else "explicit",
                     rng.randint(2, 4)) for k in range(naxes)]
        # calculation set on the duration side: parent = c1 + c2 - c3
        money_d = [c[0] for c in cols if c[1] == "monetary" and c[2] == "duration"]
        calc = None
        if i > 0 and len(money_d) >= 4 and i % 3 == 0:
            calc = (money_d[0], [(money_d[1], 1), (money_d[2], 1), (money_d[3], -1)])
        roles.append(dict(i=i, page=page, title=title, cols=cols, axes=axes, calc=calc,
                          uri=f"http://ferc.gov/form/2022-01-01/roles/Schedule{page}"))
    return roles


def version_view(roles, v):
    if v == 2:
        return roles
    out = []
    for r in roles[:N_ROLES - V2_ONLY_ROLES]:
        keep = r["cols"] if r["i"] == 0 else r["cols"][:-1]
        calc = r["calc"]
        if calc and any(c not in {k[0] for k in keep} for c in [calc[0]] + [x for x, _ in calc[1]]):
            calc = None
        out.append(dict(r, cols=keep, calc=calc))
    return out


XSD_TYPE = {"monetary": "xbrli:monetaryItemType", "integer": "xbrli:integerItemType",
            "string": "xbrli:stringItemType", "boolean": "xbrli:booleanItemType",
            "date": "xbrli:dateItemType", "gyear": "xbrli:gYearItemType"}

XLINK = 'xmlns:xlink="http://www.w3.org/1999/xlink"'
LINKNS = 'xmlns:link="http://www.xbrl.org/2003/linkbase"'


def xsd(roles):
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           f'<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema" '
           f'xmlns:xbrli="http://www.xbrl.org/2003/instance" {LINKNS} {XLINK} '
           f'xmlns:ferc="{NS}" targetNamespace="{NS}" elementFormDefault="qualified">',
           '<xs:annotation><xs:appinfo>']
    for r in roles:
        out.append(f'<link:roleType roleURI="{r["uri"]}" id="Schedule{r["page"]}">'
                   f'<link:definition>{r["page"]} - Schedule - {r["title"]}</link:definition>'
                   f'<link:usedOn>link:presentationLink</link:usedOn></link:roleType>')
    out.append('</xs:appinfo></xs:annotation>')

    def el(name, typ, period, abstract=False, balance=None):
        b = f' xbrli:balance="{balance}"' if balance else ""
        a = ' abstract="true"' if abstract else ""
        out.append(f'<xs:element id="ferc_{name}" name="{name}" type="{typ}" '
                   f'substitutionGroup="xbrli:item" xbrli:periodType="{period}"{b}{a} nillable="true"/>')

    for r in roles:
        el(f"Sched{r['page']}Abstract", "xbrli:stringItemType", "duration", abstract=True)
        el(f"Sched{r['page']}LineItems", "xbrli:stringItemType", "duration", abstract=True)
        for name, _, _ in r["axes"]:
            el(name, "xbrli:stringItemType", "duration", abstract=True)
        for name, kind, period in r["cols"]:
            el(name, XSD_TYPE[kind], period,
               balance="credit" if kind == "monetary" and len(name) % 2 else None)
    out.append('</xs:schema>')
    return "\n".join(out)


def linkbase(body):
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            f'<link:linkbase {LINKNS} {XLINK}>\n' + "\n".join(body) + '\n</link:linkbase>')


def loc(name):
    return f'<link:loc xlink:type="locator" xlink:href="ferc-core.xsd#ferc_{name}" xlink:label="{name}"/>'


def pre_linkbase(roles):
    body = []
    pc = "http://www.xbrl.org/2003/arcrole/parent-child"
    for r in roles:
        root, items = f"Sched{r['page']}Abstract", f"Sched{r['page']}LineItems"
        names = [root, items] + [a[0] for a in r["axes"]] + [c[0] for c in r["cols"]]
        body.append(f'<link:presentationLink xlink:type="extended" xlink:role="{r["uri"]}">')
        body.extend(loc(n) for n in names)
        children = [a[0] for a in r["axes"]] + [items]
        for k, c in enumerate(children):
            body.append(f'<link:presentationArc xlink:type="arc" xlink:arcrole="{pc}" '
                        f'xlink:from="{root}" xlink:to="{c}" order="{k + 1}"/>')
        for k, (c, _, _) in enumerate(r["cols"]):
            body.append(f'<link:presentationArc xlink:type="arc" xlink:arcrole="{pc}" '
                        f'xlink:from="{items}" xlink:to="{c}" order="{k + 1}"/>')
        body.append('</link:presentationLink>')
    return linkbase(body)


def lab_linkbase(roles):
    body = ['<link:labelLink xlink:type="extended" xlink:role="http://www.xbrl.org/2003/role/link">']
    std = "http://www.xbrl.org/2003/role/label"
    doc = "http://www.xbrl.org/2003/role/documentation"
    for r in roles:
        names = [f"Sched{r['page']}Abstract"] + [c[0] for c in r["cols"]]
        for n in names:
            words = re.sub(r"([a-z])([A-Z])", r"\1 \2", n)
            body.append(loc(n))
            body.append(f'<link:label xlink:type="resource" xlink:label="lab_{n}" xlink:role="{std}" '
                        f'xml:lang="en">{words}</link:label>')
            body.append(f'<link:label xlink:type="resource" xlink:label="lab_{n}" xlink:role="{doc}" '
                        f'xml:lang="en">Documentation of {n}.</link:label>')
            body.append(f'<link:labelArc xlink:type="arc" '
                        f'xlink:arcrole="http://www.xbrl.org/2003/arcrole/concept-label" '
                        f'xlink:from="{n}" xlink:to="lab_{n}"/>')
    body.append('</link:labelLink>')
    return linkbase(body)


def cal_linkbase(roles):
    body = []
    si = "http://www.xbrl.org/2003/arcrole/summation-item"
    for r in roles:
        if not r["calc"]:
            continue
        parent, kids = r["calc"]
        body.append(f'<link:calculationLink xlink:type="extended" xlink:role="{r["uri"]}">')
        body.extend(loc(n) for n in [parent] + [k for k, _ in kids])
        for k, w in kids:
            body.append(f'<link:calculationArc xlink:type="arc" xlink:arcrole="{si}" '
                        f'xlink:from="{parent}" xlink:to="{k}" weight="{w}.0"/>')
        body.append('</link:calculationLink>')
    return linkbase(body)


def zip_bytes(files, level=6):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=level) as z:
        for name, data in files:
            z.writestr(zipfile.ZipInfo(name, ZIP_TIME), data,
                      compress_type=zipfile.ZIP_DEFLATED, compresslevel=level)
    return buf.getvalue()


def write_taxonomies(path, roles):
    versions = []
    for v, date in ((1, "2021-01-01"), (2, "2022-01-01")):
        view = version_view(roles, v)
        inner = zip_bytes([("ferc-core.xsd", xsd(view)), ("ferc-pre.xml", pre_linkbase(view)),
                           ("ferc-lab.xml", lab_linkbase(view)), ("ferc-cal.xml", cal_linkbase(view))])
        versions.append((f"form-1-{date}.zip", inner))
    with open(path, "wb") as f:
        f.write(zip_bytes(versions))


# ---------------------------------------------------------------- filings

def value_for(rng, kind):
    if kind == "monetary":
        return f"{rng.randint(1, 9_999_999)}.{rng.randint(0, 99):02d}"
    if kind == "integer":
        return str(rng.randint(0, 100_000))
    if kind == "boolean":
        return rng.choice(["true", "false"])
    if kind == "date":
        return f"{YEAR}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    if kind == "gyear":
        return str(YEAR)
    return f"text value {rng.randint(0, 10**6)}"


class Filing:
    """One instance document being written, with its ground-truth rows."""

    def __init__(self, name, entity):
        self.name, self.entity = name, entity
        self.contexts = {}        # key -> (c_id, xml)
        self.facts = []           # xml fact lines
        self.rows = {}            # table -> set of c_id with >= 1 valid fact

    def context(self, period, dims):
        key = (period, tuple(dims))
        if key not in self.contexts:
            c_id = f"c-{len(self.contexts) + 1:05d}"
            seg = ""
            if dims:
                members = []
                for axis, kind, member in dims:
                    if kind == "typed":
                        members.append(f'<xbrldi:typedMember dimension="ferc:{axis}">'
                                       f'<ferc:{axis[:-4]}Domain>{member}</ferc:{axis[:-4]}Domain>'
                                       '</xbrldi:typedMember>')
                    else:
                        members.append(f'<xbrldi:explicitMember dimension="ferc:{axis}">'
                                       f'ferc:{member}</xbrldi:explicitMember>')
                seg = "<xbrli:segment>" + "".join(members) + "</xbrli:segment>"
            if period[0] == "i":
                per = f"<xbrli:instant>{period[1]}</xbrli:instant>"
            else:
                per = f"<xbrli:startDate>{period[1]}</xbrli:startDate><xbrli:endDate>{period[2]}</xbrli:endDate>"
            xml = (f'<xbrli:context id="{c_id}"><xbrli:entity>'
                   f'<xbrli:identifier scheme="http://www.ferc.gov/CID">{self.entity}</xbrli:identifier>'
                   f'{seg}</xbrli:entity><xbrli:period>{per}</xbrli:period></xbrli:context>')
            self.contexts[key] = (c_id, xml)
        return self.contexts[key][0]

    def fact(self, concept, c_id, value, kind, table=None, valid=True):
        attrs = ' unitRef="USD" decimals="2"' if kind == "monetary" else ""
        self.facts.append(f'<ferc:{concept} contextRef="{c_id}"{attrs}>{value}</ferc:{concept}>')
        if table is not None and valid:
            self.rows.setdefault(table, set()).add(c_id)

    def xml(self):
        head = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance" '
                f'xmlns:ferc="{NS}" xmlns:xbrldi="http://xbrl.org/2006/xbrldi" '
                f'{LINKNS} {XLINK} xmlns:iso4217="http://www.xbrl.org/2003/iso4217">\n'
                '<link:schemaRef xlink:type="simple" xlink:href="https://ecollection.ferc.gov/taxonomy/form1/2022-01-01/form/form1/form-1_2022-01-01.xsd"/>\n')
        unit = '<xbrli:unit id="USD"><xbrli:measure>iso4217:USD</xbrli:measure></xbrli:unit>\n'
        return (head + "\n".join(x for _, x in self.contexts.values()) + "\n" + unit
                + "\n".join(self.facts) + "\n</xbrli:xbrl>\n")


PERIODS = {
    "duration": [("d", f"{YEAR}-01-01", f"{YEAR}-12-31"), ("d", f"{YEAR - 1}-01-01", f"{YEAR - 1}-12-31")],
    "instant": [("i", f"{YEAR}-12-31"), ("i", f"{YEAR - 1}-12-31")],
}


def fill_filing(f, roles, rng, calc_fail):
    """Plant one filing's facts, table by table, recording its rows."""
    for r in roles:
        for period_type in ("duration", "instant"):
            cols = [c for c in r["cols"] if c[2] == period_type]
            if not cols:
                continue
            table = f"{table_name(r['page'], r['title'])}_{period_type}"
            # row contexts: the no-axis context (the `total` row when the
            # table has axes), plus member combinations per period
            periods = PERIODS[period_type][:rng.choice([1, 2])] if r["i"] else PERIODS[period_type][:1]
            dim_sets = [[]]
            if r["axes"]:
                first = r["axes"][0]
                for m in range(first[2]):
                    dims = [(first[0], first[1], f"Member{m}")]
                    if len(r["axes"]) > 1 and m % 2 == 0:
                        second = r["axes"][1]
                        dims.append((second[0], second[1], f"Plant {m}"))
                    dim_sets.append(dims)
            for period in periods:
                for dims in dim_sets:
                    c_id = f.context(period, dims)
                    values = {}
                    for name, kind, _ in rng.sample(cols, rng.randint(1, min(len(cols), 6))):
                        values[name] = (kind, value_for(rng, kind))
                    calc = r["calc"]
                    if calc and period_type == "duration" and not dims and period == PERIODS["duration"][0]:
                        parent, kids = calc
                        kid_vals = [rng.randint(1, 10**6) * 100 + rng.randint(0, 99) for _ in kids]
                        total = sum(v * w for v, (_, w) in zip(kid_vals, kids))
                        if calc_fail:
                            total += 100
                        for (k, _), v in zip(kids, kid_vals):
                            values[k] = ("monetary", f"{v // 100}.{v % 100:02d}")
                        sign = "-" if total < 0 else ""
                        values[parent] = ("monetary", f"{sign}{abs(total) // 100}.{abs(total) % 100:02d}")
                    for name, (kind, v) in values.items():
                        f.fact(name, c_id, v, kind, table)
            # exact duplicate and precision near-duplicate of one fact
            money = [c for c in cols if c[1] == "monetary"]
            if money and rng.random() < 0.3:
                name = money[0][0]
                c_id = f.context(periods[0], [])
                whole = rng.randint(1, 10**6)
                f.fact(name, c_id, f"{whole}.25", "monetary", table)
                f.fact(name, c_id, f"{whole}.25", "monetary", table)
                f.fact(name, c_id, f"{whole}", "monetary", table)
            # try_cast garbage: a context whose only fact is malformed
            if r["axes"] and money and rng.random() < 0.2:
                axis = r["axes"][0]
                c_id = f.context(periods[0], [(axis[0], axis[1], "Garbage")])
                f.fact(money[-1][0], c_id, "n/a", "monetary", table, valid=False)


def identification(f, rng, filer, restated):
    c_id = f.context(PERIODS["duration"][0], [])
    table = "identification_001_duration"
    for name, value, kind in (("RespondentLegalCompanyName", f"Utility Company {filer}", "string"),
                              ("ReportYear", str(YEAR), "gyear"),
                              ("ReportDate", f"{YEAR + 1}-04-{rng.randint(1, 28):02d}", "date"),
                              ("RespondentAddress", f"{filer} Main Street", "string"),
                              ("IsRestatement", "true" if restated else "false", "boolean"),
                              ("RespondentIdentificationCode", f"C{filer:06d}", "string")):
        f.fact(name, c_id, value, kind, table)


def pick_tables(tables, n):
    """Identification plus n - 1 tables spread evenly over the rest."""
    rest = [t for t in tables if t != "identification_001_duration"]
    n = max(1, min(n, len(tables)))
    step = len(rest) / max(1, n - 1)
    return ["identification_001_duration"] + [rest[int(k * step)] for k in range(n - 1)]


def generate(seed, n_filings, out, requested=None):
    rng = random.Random(seed)
    roles = make_roles(random.Random(seed * 7919 + 1))
    os.makedirs(out, exist_ok=True)
    write_taxonomies(os.path.join(out, "ferc1-xbrl-taxonomies.zip"), roles)

    rows = {}
    facts_total = 0
    rss = []
    entries = []
    per_filing = {}
    for k in range(n_filings):
        restated = k == n_filings - 1 and n_filings > 1
        filer = 0 if restated else k
        name = f"filer{filer:04d}-{'restated' if restated else 'original'}-{k:04d}"
        f = Filing(name, f"C{filer:06d}")
        frng = random.Random(seed * 1_000_003 + (0 if restated else k))
        identification(f, frng, filer, restated)
        fill_filing(f, roles, frng, calc_fail=(k == 1))
        for j in range(5):  # concepts outside the taxonomy: parsed, never used
            f.fact(f"ExtensionConcept{j}", f.context(PERIODS["duration"][0], []),
                   str(rng.randint(0, 999)), "integer")
        if restated:       # the restatement changes one value
            f.facts[0] = f.facts[0].replace("Utility Company", "Utility Co.")
        entries.append((f"{name}.xbrl", f.xml().encode()))
        facts_total += len(f.facts)
        per_filing[name] = len(f.facts)
        for t, cs in f.rows.items():
            rows[t] = rows.get(t, 0) + len(cs)
        minute = 30 + k if not restated else 59
        rss.append({"filename": f"{name}.xbrl",
                    "rss_metadata": {"published_parsed": f"{YEAR + 1}-04-18 10:{minute % 60:02d}:{k % 60:02d}"
                                     if not restated else f"{YEAR + 1}-06-01 09:00:00"},
                    "taxonomy_zip_name": "form-1-2022-01-01.zip"})
    entries.append(("empty-submission.xbrl", b""))
    entries.append(("rssfeed", json.dumps({"ferc1": rss}).encode()))
    with open(os.path.join(out, "ferc1-xbrl-2021.zip"), "wb") as fh:
        fh.write(zip_bytes(entries, level=1))

    tables = sorted(f"{table_name(r['page'], r['title'])}_{p}"
                    for r in roles for p in ("duration", "instant")
                    if any(c[2] == p for c in r["cols"]))
    truth = {"seed": seed, "filings": n_filings, "filings_skipped": 1, "facts": facts_total,
             "tables": tables, "rows": {t: rows.get(t, 0) for t in tables},
             "requested": pick_tables(tables, requested or len(tables)),
             "facts_per_filing": per_filing}
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--filings", type=int, required=True)
    p.add_argument("--tables", type=int, default=0,
                   help="tables the extraction requests (default: all)")
    p.add_argument("--out", required=True)
    a = p.parse_args()
    t = generate(a.seed, a.filings, a.out, a.tables)
    print(f"{a.filings} filings, {t['facts']} facts, {len(t['tables'])} tables, "
          f"{sum(t['rows'].values())} rows -> {a.out}")


if __name__ == "__main__":
    main()
