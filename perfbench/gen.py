"""Seeded input generators. The program sees only the files written here:
TDR/FCL packages (tar.gz) under a file-system bucket, event files of
queue records, a preload corpus, and the analytics tables."""
import gzip
import io
import json
import os
import random
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import model

WORDS = ("appeal court claimant defendant order judgment tribunal costs evidence "
         "witness contract lease tenant landlord negligence damages injunction "
         "statute section schedule respondent applicant hearing counsel ground "
         "permission dismissed allowed remitted").split()
AKN = "http://docs.oasis-open.org/legaldocml/ns/akn/3.0"
TRICKLE_ROUNDS = 8
PRELOAD_DOCS = 3000
TRICKLE_BUCKET = "tre-out"


def _sentence(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _xml(rng, kind, ncn):
    body = "".join(f"<p>{_sentence(rng, 40)}</p>" for _ in range(rng.randint(10, 30)))
    if kind == "judgment":
        return (f'<akomaNtoso xmlns="{AKN}"><judgment name="decision"><meta>'
                f'<cite>{ncn}</cite></meta><judgmentBody>{body}</judgmentBody>'
                f'</judgment></akomaNtoso>')
    if kind == "pressSummary":
        return (f'<akomaNtoso xmlns="{AKN}"><doc name="pressSummary"><mainBody>'
                f'{body}</mainBody></doc></akomaNtoso>')
    return f'<akomaNtoso xmlns="{AKN}"><judgment><p>{body}</judgment>'  # malformed


def _tar(members):
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        with tarfile.open(fileobj=gz, mode="w", format=tarfile.GNU_FORMAT) as t:
            for name, data in members:
                info = tarfile.TarInfo(name)
                info.size, info.mtime, info.mode = len(data), 0, 0o644
                t.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def package(rng, ref, *, originator, kind="judgment", ncn=None, parser_uri=None,
            docx=True, log=True, images=0, tre_reference=None, auto_publish=None,
            metadata=True, hostile_image=None):
    """One package's tar.gz bytes. `ref` names the tar's folder; `docx=None`
    writes a null filename, `docx=False` omits the key."""
    image_names = [f"image{i}.png" for i in range(images)]
    if hostile_image:
        image_names.append(hostile_image)
    payload = {"xml": f"{ref}.xml", "metadata": f"TRE-{ref}-metadata.json",
               "images": image_names, "log": "parser.log"}
    if docx is True:
        payload["filename"] = f"{ref}.docx"
    elif docx is None:
        payload["filename"] = None
    params = {"TRE": {"reference": tre_reference or f"TRE-{ref}", "payload": payload},
              "PARSER": {"uri": parser_uri, "cite": ncn,
                         "parser_run_id": f"run-{rng.randrange(10**9)}"}}
    if originator == "TDR":
        params["TDR"] = {
            "Source-Organization": rng.choice(["MoJ", "HMCTS", "Court of Appeal"]),
            "Contact-Name": f"Clerk {rng.randrange(1000)}",
            "Contact-Email": f"clerk{rng.randrange(1000)}@example.com",
            "Internal-Sender-Identifier": ref,
            "Consignment-Completed-Datetime": "2024-03-01T10:00:00Z"}
    if auto_publish is not None:
        params["INGESTER_OPTIONS"] = {"auto_publish": auto_publish}
    meta = json.dumps({"parameters": params})
    members = []
    if metadata:
        members.append((f"{ref}/TRE-{ref}-metadata.json", meta.encode()))
    members.append((f"{ref}/{ref}.xml", _xml(rng, kind, ncn).encode()))
    if docx is True:
        members.append((f"{ref}/{ref}.docx", rng.randbytes(rng.randint(3000, 6000))))
    if log:
        members.append((f"{ref}/parser.log", f"parsed {ref} <ok> & done\n".encode()))
    for name in image_names:
        members.append((f"{ref}/{name}", rng.randbytes(rng.randint(2000, 8000))))
    return _tar(members)


def sqs_v2(msg_id, ref, originator, bucket, key):
    inner = {"parameters": {"status": "JUDGMENT_PARSE_NO_ERRORS", "reference": ref,
                            "originator": originator, "s3Bucket": bucket, "s3Key": key}}
    body = {"Type": "Notification", "Message": json.dumps(inner)}
    return ("sqs", json.dumps({"messageId": msg_id, "eventSource": "aws:sqs",
                               "body": json.dumps(body)}))


def sns_v2(ref, originator, bucket, key):
    inner = {"parameters": {"status": "JUDGMENT_PARSE_NO_ERRORS", "reference": ref,
                            "originator": originator, "s3Bucket": bucket, "s3Key": key}}
    return ("sns", json.dumps({"Sns": {"Message": json.dumps(inner)}}))


def sqs_s3(msg_id, bucket, raw_key):
    inner = {"Records": [{"eventSource": "aws:s3", "s3": {
        "bucket": {"name": bucket}, "object": {"key": raw_key}}}]}
    body = {"Type": "Notification", "Message": json.dumps(inner)}
    return ("sqs", json.dumps({"messageId": msg_id, "eventSource": "aws:sqs",
                               "body": json.dumps(body)}))


def sqs_invalid(msg_id):
    body = {"Type": "Notification", "Message": json.dumps({"something-unexpected": "?"})}
    return ("sqs", json.dumps({"messageId": msg_id, "eventSource": "aws:sqs",
                               "body": json.dumps(body)}))


class Bucket:
    """A file-system stand-in for the S3 buckets: (bucket, key) -> file."""

    def __init__(self, root):
        self.root = root
        self.objects = {}

    def put(self, bucket, key, data):
        path = os.path.join(self.root, bucket, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        self.objects[(bucket, key)] = data


def write_events(path, events):
    with open(path, "w") as f:
        for kind, record in events:
            f.write(json.dumps({"kind": kind, "record_json": record}) + "\n")


# --------------------------------------------------------- ingest_trickle

def _preload(rng, seed, root):
    """A corpus written straight into the store before the stream starts:
    published and unpublished judgments and press summaries with slug and
    NCN identifiers, plus identifiers under a foreign (`fclid`) namespace
    that must never resolve."""
    docs, ids = [], []
    for i in range(PRELOAD_DOCS):
        uri = f"ewhc/kb/2023/{seed % 97}{i:05d}"
        kind = "pressSummary" if i % 8 == 5 else "judgment"
        ncn = f"[2023] EWHC {seed % 97}{i:05d} (KB)"
        xml = (f'<akomaNtoso xmlns="{AKN}"><judgment><p>{_sentence(rng, 12)}</p>'
               f'</judgment></akomaNtoso>' if kind == "judgment" else
               f'<akomaNtoso xmlns="{AKN}"><doc name="pressSummary"><p>'
               f'{_sentence(rng, 12)}</p></doc></akomaNtoso>')
        docs.append(dict(uri=uri, xml=xml, doc_type=kind,
                         annotation_message="New document uploaded by Find Case Law",
                         annotation_payload='{"preloaded": true}', automated=False,
                         upload_state="inserted", will_publish=rng.random() < 0.6))
        ids.append((uri, "slug", uri, None))
        ids.append((uri, "value", ncn, model.ID_TYPE[kind]))
        ids.append((f"fclid/{seed % 97}{i:05d}", "value", f"[2023] UKFTT {i} (TC)", "fclid"))
    os.makedirs(root)
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(root, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(
        [dict(document_uri=a, id_kind=b, id_value=c, id_type=d) for a, b, c, d in ids],
        schema=pa.schema([("document_uri", pa.string()), ("id_kind", pa.string()),
                          ("id_value", pa.string()), ("id_type", pa.string())])),
        os.path.join(root, "identifiers.parquet"))
    return docs, ids


def ingest_trickle(seed, root, rounds=TRICKLE_ROUNDS):
    """Queue traffic in small rounds. Every round has the same make-up:
    FCL reparses by slug (V2 over SQS), FCL S3 reparses by NCN (S3 dialect
    over SQS, consignment reference rewritten from the metadata), a TDR
    reparse by NCN, TDR and FCL inserts (one whose NCN only exists in the
    foreign namespace), five poison messages (missing metadata, unknown
    originator, missing tarball, an SNS-delivered failure, an invalid
    message) and one hostile package whose image name climbs out of the
    asset root with `..`. The hostile package and the missing-metadata and
    unknown-originator messages do not depend on the seed."""
    rng = random.Random(seed)
    docs, ids = _preload(rng, seed, os.path.join(root, "preload"))
    bucket = Bucket(os.path.join(root, "bucket"))
    rounds_dir = os.path.join(root, "rounds")
    os.makedirs(rounds_dir)
    by_type = {}
    for d in docs:
        by_type.setdefault(d["doc_type"], []).append(d["uri"])
    ncn_of = {u: v for (u, k, v, t) in ids if k == "value" and t != "fclid"}
    foreign = [v for (u, k, v, t) in ids if t == "fclid"]
    all_rounds = []
    used = set()
    for r in range(rounds):
        ev = []
        # targets: distinct existing documents, none hit twice in one round
        targets = rng.sample([u for u in ncn_of if u not in used], 16)
        used.update(targets)
        if len(used) > PRELOAD_DOCS - 64:
            used.clear()
        for j, uri in enumerate(targets[:8]):  # FCL reparse by slug
            ref = f"FCL-R{r:04d}-{j}"
            kind = "pressSummary" if uri in by_type.get("pressSummary", ()) else "judgment"
            data = package(rng, ref, originator="FCL", kind=kind, ncn=ncn_of[uri],
                           parser_uri=model.URI_PREFIX + uri, docx=True, images=rng.randint(0, 1))
            key = f"fcl/{ref}.tar.gz"
            bucket.put(TRICKLE_BUCKET, key, data)
            ev.append(sqs_v2(f"m-{r:04d}-slug{j}", ref, "FCL", TRICKLE_BUCKET, key))
        for j, uri in enumerate(targets[8:14]):  # FCL S3 reparse by NCN
            ref = f"S3PKG-R{r:04d}-{j}"
            kind = "pressSummary" if uri in by_type.get("pressSummary", ()) else "judgment"
            data = package(rng, ref, originator="FCL S3", kind=kind, ncn=ncn_of[uri],
                           docx=rng.random() < 0.5 or None, tre_reference=f"TRE-S3-R{r:04d}-{j}",
                           auto_publish=rng.random() < 0.5)
            raw_key = f"reparse+2024/{ref}.tar.gz"
            bucket.put(TRICKLE_BUCKET, raw_key.replace("+", " "), data)
            ev.append(sqs_s3(f"m-{r:04d}-s3{j}", TRICKLE_BUCKET, raw_key))
        uri = targets[14]  # TDR reparse by NCN
        kind = "pressSummary" if uri in by_type.get("pressSummary", ()) else "judgment"
        ref = f"TDR-R{r:04d}-upd"
        bucket.put(TRICKLE_BUCKET, f"tdr/{ref}.tar.gz",
                   package(rng, ref, originator="TDR", kind=kind, ncn=ncn_of[uri]))
        ev.append(sqs_v2(f"m-{r:04d}-tdrupd", ref, "TDR", TRICKLE_BUCKET, f"tdr/{ref}.tar.gz"))
        for j in range(3):  # TDR inserts
            ref = f"TDR-R{r:04d}-new{j}"
            bucket.put(TRICKLE_BUCKET, f"tdr/{ref}.tar.gz", package(
                rng, ref, originator="TDR", kind="judgment" if j else "pressSummary",
                ncn=f"[2024] EWCA Civ {seed % 89}{r:04d}{j}", images=rng.randint(0, 2)))
            ev.append(sqs_v2(f"m-{r:04d}-new{j}", ref, "TDR", TRICKLE_BUCKET, f"tdr/{ref}.tar.gz"))
        ref = f"FCL-R{r:04d}-ns"  # NCN only under the foreign namespace: an insert
        bucket.put(TRICKLE_BUCKET, f"fcl/{ref}.tar.gz", package(
            rng, ref, originator="FCL", ncn=rng.choice(foreign),
            parser_uri=model.URI_PREFIX + f"ewca/civ/2024/x{r}", docx=False))
        ev.append(sqs_v2(f"m-{r:04d}-ns", ref, "FCL", TRICKLE_BUCKET, f"fcl/{ref}.tar.gz"))
        # poison messages; the two whose ledger rows meet the program's
        # whole-string `terminal` lookup do not depend on the seed
        ref = f"TDR-R{r:04d}-nometa"
        bucket.put(TRICKLE_BUCKET, f"tdr/{ref}.tar.gz",
                   package(random.Random(r), ref, originator="TDR", metadata=False))
        ev.append(sqs_v2(f"m-{r:04d}-nometa", ref, "TDR", TRICKLE_BUCKET, f"tdr/{ref}.tar.gz"))
        ev.append(sqs_v2(f"m-{r:04d}-orig", f"X-R{r:04d}", "XYZ", TRICKLE_BUCKET, "x/none.tar.gz"))
        ev.append(sqs_v2(f"m-{r:04d}-gone", f"FCL-R{r:04d}-gone", "FCL", TRICKLE_BUCKET,
                         f"fcl/FCL-R{r:04d}-gone.tar.gz"))
        ev.append(sns_v2(f"SNS-R{r:04d}", "ABC", TRICKLE_BUCKET, "x/none.tar.gz"))
        ev.append(sqs_invalid(f"m-{r:04d}-invalid"))
        ev.append(hostile(bucket, r))
        rng.shuffle(ev)
        write_events(os.path.join(rounds_dir, f"round-{r:04d}.jsonl"), ev)
        all_rounds.append(ev)
    return dict(bucket=bucket, rounds_dir=rounds_dir, rounds=all_rounds, preload_docs=docs,
                preload_ids=ids)


def hostile_ref(r):
    return f"HOSTILE-R{r:04d}"


def hostile_target(r):
    """Where the hostile image lands if `..` is honoured: two levels above
    the document's asset directory, inside the store directory."""
    return os.path.join("escaped", f"r{r:04d}.png")


def hostile(bucket, r):
    ref = hostile_ref(r)
    data = package(random.Random(r), ref, originator="TDR", ncn=None, images=0,
                   hostile_image="../../" + hostile_target(r))
    bucket.put(TRICKLE_BUCKET, f"tdr/{ref}.tar.gz", data)
    return sqs_v2(f"m-{r:04d}-hostile", ref, "TDR", TRICKLE_BUCKET, f"tdr/{ref}.tar.gz")


# --------------------------------------------------------------- analytics

def tables(seed, out):
    """orders, lineitem, events and documents in the sf0.1 shape (row
    counts, key ranges and value domains of the repository's sf0.1 tables),
    drawn from `seed`."""
    g = np.random.default_rng(seed)
    os.makedirs(out)
    n_orders, n_cust, n_supp, n_part = 150_000, 15_000, 1_000, 20_000
    day = np.timedelta64(1, "D")
    odate = np.datetime64("1995-01-01") + g.integers(0, 2404, n_orders) * day
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": g.choice(["O", "P", "F"], n_orders),
        "o_totalprice": g.integers(100_191, 49_999_318, n_orders) / 100.0,
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n_orders)})
    lines = g.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    lineno = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = g.integers(1, 51, n).astype(np.float64)
    price = g.integers(900, 2100, n) / 1.0
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": g.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": g.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price + g.integers(0, 100, n) / 100.0, 2),
        "l_discount": g.integers(0, 11, n) / 100.0,
        "l_tax": g.integers(0, 9, n) / 100.0,
        "l_returnflag": g.choice(["A", "N", "R"], n),
        "l_linestatus": g.choice(["O", "F"], n),
        "l_shipdate": pa.array((odate[okey] + g.integers(1, 122, n) * day)
                               .astype("datetime64[us]"))})
    n_events = 100_000
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + g.integers(0, 30 * 86400 * 10**6, n_events) * np.timedelta64(1, "us"))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": g.integers(0, 1500, n_events, dtype=np.int64),
        "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": g.integers(0, 56_022, n_events) / 100.0,
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)]})
    vocab = ("batch part spark line column order small sort fast value scan a hash slow "
             "group agg filter query big key window row table stream merge data vector "
             "join index shard cache").split()
    n_docs = 5000
    texts = []
    for i in range(n_docs):
        if i > 50 and g.random() < 0.04:
            base = texts[int(g.integers(0, len(texts)))].split()
            k = int(g.integers(0, len(base)))
            base[k] = vocab[int(g.integers(0, len(vocab)))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(g.choice(vocab, int(g.integers(8, 90)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["en", "es", "zh", "de", "fr"], n_docs, p=[.4, .15, .15, .15, .15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    for name, t in (("orders", orders), ("lineitem", lineitem), ("events", events),
                    ("documents", documents)):
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
