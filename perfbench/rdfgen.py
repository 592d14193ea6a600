"""Seeded RDF/XML corpus in the shape of conference metadata dumps
(people, papers, proceedings, sessions), with its ground truth: the
exact triple count, SPARQL lookups with their solution counts, and a
mutation list with a lookup that shows each mutation took effect.

    write_corpus(out_dir, seed, files, papers_per_file, mutations)

writes out_dir/rdf/*.rdf and out_dir/truth.json.
"""
import json
import os
import random

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
NS = {
    "rdf": RDF,
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "swrc": "http://swrc.ontoware.org/ontology#",
    "swc": "http://data.semanticweb.org/ns/swc/ontology#",
    "ical": "http://www.w3.org/2002/12/cal/ical#",
}
XSD = "http://www.w3.org/2001/XMLSchema#"
BASE = "http://data.example.org/"
WORDS = ("graph query store semantic linked data ontology reasoning scalable "
         "distributed index triple sparql web knowledge schema mapping stream "
         "provenance entity alignment embedding federated benchmark").split()


def iri(v):
    return {"kind": "named", "value": v, "lang": None, "datatype": None}


def lit(v, lang=None, datatype=None):
    kind = "lang" if lang else "typed" if datatype else "raw"
    return {"kind": kind, "value": v, "lang": lang, "datatype": datatype}


def blank(v):
    return {"kind": "blank", "value": v, "lang": None, "datatype": None}


def key(t):
    return tuple((x["kind"], x["value"], x["lang"], x["datatype"]) for x in t)


def q(prefix, local):
    return NS[prefix] + local


class Doc:
    """One RDF/XML file and the triples it states."""

    def __init__(self, index):
        self.index = index
        self.lines = []
        self.triples = []

    def node(self, cls, about, props):
        """props: (prefix, local, term) with term an iri/lit/blank dict."""
        self.lines.append(f'  <{cls[0]}:{cls[1]} rdf:about="{about}">')
        self.triples.append((iri(about), iri(RDF + "type"), iri(q(*cls))))
        for prefix, local, term in props:
            self.prop(prefix, local, term)
            self.triples.append((iri(about), iri(q(prefix, local)),
                                 self.scoped(term)))
        self.lines.append(f"  </{cls[0]}:{cls[1]}>")

    def blank_node(self, node_id, props):
        self.lines.append(f'  <rdf:Description rdf:nodeID="{node_id}">')
        for prefix, local, term in props:
            self.prop(prefix, local, term)
            self.triples.append((self.scoped(blank(node_id)),
                                 iri(q(prefix, local)), self.scoped(term)))
        self.lines.append("  </rdf:Description>")

    def scoped(self, term):
        # blank node ids are document-scoped; the store prefixes them
        # with the file's index in sorted order
        if term["kind"] == "blank":
            return blank(f"f{self.index}_{term['value']}")
        return term

    def prop(self, prefix, local, term):
        tag = f"{prefix}:{local}"
        if term["kind"] == "named":
            self.lines.append(f'    <{tag} rdf:resource="{term["value"]}"/>')
        elif term["kind"] == "blank":
            self.lines.append(f'    <{tag} rdf:nodeID="{term["value"]}"/>')
        elif term["kind"] == "lang":
            self.lines.append(f'    <{tag} xml:lang="{term["lang"]}">{term["value"]}</{tag}>')
        elif term["kind"] == "typed":
            self.lines.append(f'    <{tag} rdf:datatype="{term["datatype"]}">{term["value"]}</{tag}>')
        else:
            self.lines.append(f"    <{tag}>{term['value']}</{tag}>")

    def text(self):
        ns = " ".join(f'xmlns:{p}="{u}"' for p, u in NS.items())
        return ('<?xml version="1.0" encoding="UTF-8"?>\n'
                f"<rdf:RDF {ns}>\n" + "\n".join(self.lines) + "\n</rdf:RDF>\n")


def write_corpus(out_dir, seed, files, papers_per_file, mutations):
    rng = random.Random(seed)
    n_people = files * papers_per_file // 2 + 10
    people = [f"{BASE}person/p{i}" for i in range(n_people)]
    orgs = [f"{BASE}organization/o{i}" for i in range(max(4, n_people // 20))]
    owner = {p: rng.randrange(files) for p in people}
    docs = [Doc(i) for i in range(files)]
    papers = []
    for i, person in enumerate(people):
        d = docs[owner[person]]
        d.node(("foaf", "Person"), person, [
            ("foaf", "name", lit(f"Person {i} {rng.choice(WORDS).title()}")),
            ("rdfs", "label", lit(f"Person {i}", lang="en")),
            ("foaf", "mbox_sha1sum", lit(f"{rng.getrandbits(64):016x}")),
            ("swrc", "affiliation", iri(rng.choice(orgs))),
        ])
    for f, d in enumerate(docs):
        conf = f"{BASE}conference/c{seed % 1000}-{f}"
        proc = f"{conf}/proceedings"
        d.node(("swrc", "Proceedings"), proc, [
            ("rdfs", "label", lit(f"Proceedings {f}", lang="en")),
            ("swrc", "year", lit(str(2006 + f % 6), datatype=XSD + "gYear")),
        ])
        for j in range(papers_per_file):
            paper = f"{conf}/paper/{j}"
            authors = rng.sample(people, rng.randint(1, 4))
            maker = f"m{j}"
            title = " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 9)))
            d.node(("swrc", "InProceedings"), paper, [
                ("dc", "title", lit(title.capitalize())),
                ("swrc", "abstract", lit(" ".join(rng.choice(WORDS) for _ in range(40)), lang="en")),
                ("swc", "isPartOf", iri(proc)),
                ("swrc", "year", lit(str(2006 + f % 6), datatype=XSD + "gYear")),
                ("foaf", "maker", blank(maker)),
            ] + [("dc", "creator", iri(a)) for a in authors])
            d.blank_node(maker, [("rdfs", "label", lit(f"authors of paper {j}"))])
            papers.append((paper, proc, authors))
        for k in range(max(1, papers_per_file // 8)):
            d.node(("swc", "SessionEvent"), f"{conf}/session/{k}", [
                ("rdfs", "label", lit(f"Session {k}", lang="en")),
                ("ical", "dtstart", lit(f"2010-06-{1 + k % 28:02d}T09:00:00", datatype=XSD + "dateTime")),
                ("swc", "isSubEventOf", iri(conf)),
            ] + [("swc", "hasRelatedDocument", iri(p)) for p, _, _ in papers[-papers_per_file:][k::8]])

    rdf_dir = os.path.join(out_dir, "rdf")
    os.makedirs(rdf_dir, exist_ok=True)
    input_bytes = 0
    for d in docs:
        data = d.text().encode("utf-8")
        input_bytes += len(data)
        with open(os.path.join(rdf_dir, f"conf-{d.index:03d}.rdf"), "wb") as fh:
            fh.write(data)
    triples = [t for d in docs for t in d.triples]
    store = {key(t) for t in triples}
    assert len(store) == len(triples), "generator stated a triple twice"

    def count(s=None, p=None, o=None, cols=None):
        sols = set()
        for t in store:
            if (s is None or t[0][1] == s) and (p is None or t[1][1] == p) \
                    and (o is None or t[2][1] == o):
                sols.add(tuple(t[i] for i in cols))
        return len(sols)

    person = rng.choice(people)
    paper, proc, authors = rng.choice(papers)
    creator, name, part_of = q("dc", "creator"), q("foaf", "name"), q("swc", "isPartOf")
    lookups = [
        (f"select $p $o where {{ <{person}> $p $o . }}", count(s=person, cols=(1, 2))),
        (f"select $s $o where {{ $s <{name}> $o . }}", count(p=name, cols=(0, 2))),
        (f"select $s $p where {{ $s $p <{proc}> . }}", count(o=proc, cols=(0, 1))),
        (f"select $o where {{ <{paper}> <{creator}> $o . }}", count(s=paper, p=creator, cols=(2,))),
        (f"select $p where {{ <{paper}> $p <{authors[0]}> . }}", count(s=paper, o=authors[0], cols=(1,))),
        (f"select $s where {{ $s <{creator}> <{person}> . }}", count(p=creator, o=person, cols=(0,))),
        (f"select $s where {{ $s <{RDF}type> <{q('foaf', 'Person')}> . }}",
         count(p=RDF + "type", o=q("foaf", "Person"), cols=(0,))),
    ]
    # 3-pattern BGP: papers of one proceedings volume with their authors' names
    bgp = {(pp, a) for pp, pr, au in papers if pr == proc for a in au}
    lookups.append((f"select $paper $person $name where {{ $paper <{part_of}> <{proc}> . "
                    f"$paper <{creator}> $person . $person <{name}> $name . }}", len(bgp)))

    muts = []
    subject = q("dc", "subject")
    topics = {}
    for i in range(mutations):
        if i % 2 == 0:
            pp = rng.choice(papers)[0]
            t = (iri(pp), iri(subject), iri(f"{BASE}topic/t{seed % 1000}-{i}"))
            topics[pp] = topics.get(pp, 0) + 1
            check = (f"select $o where {{ <{pp}> <{subject}> $o . }}", topics[pp])
            muts.append({"op": "insert", "triple": t, "check": check})
        else:
            victim = people.pop(rng.randrange(len(people)))
            sha = next(x for x in store if x[0][1] == victim and x[1][1] == q("foaf", "mbox_sha1sum"))
            t = tuple({"kind": k, "value": v, "lang": lg, "datatype": dt} for k, v, lg, dt in sha)
            check = (f"select $o where {{ <{victim}> <{q('foaf', 'mbox_sha1sum')}> $o . }}", 0)
            muts.append({"op": "remove", "triple": t, "check": check})

    truth = {
        "seed": seed, "input_bytes": input_bytes, "triples": len(store),
        "lookups": [{"sparql": s, "expected": n} for s, n in lookups],
        "mutations": [{"op": m["op"], "check": {"sparql": m["check"][0], "expected": m["check"][1]},
                       "triple": dict(zip("spo", m["triple"]))} for m in muts],
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth
