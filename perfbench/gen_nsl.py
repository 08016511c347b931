"""Seeded synthetic NSL-KDD connection records (numpy-vectorised).

Writes headerless 43-field CSVs shaped like ``KDDTrain+_20Percent.txt``
and ``KDDTest+.txt``: 41 features, the attack-name label and a trailing
difficulty field. Features are drawn per class so the paper's pipeline
(attribute-ratio selection, KMeans, per-cluster RF) has signal to find.
Planted quirks the pipeline must handle:

- ``su_attempted`` takes the dirty value 2.0 on a few rows;
- ``num_outbound_cmds`` is constant 0;
- the test file carries attack names, services and flags never seen in
  train;
- 3 % of labels disagree with the class the row's features came from.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pa_csv

CLASSES = ("normal", "DoS", "Probe", "R2L", "U2R")
# share of rows whose label disagrees with the class their features were
# drawn from: every KMeans cluster then holds both labels, so the number
# of per-cluster RF models does not hinge on a few stray rows
LABEL_NOISE = 0.03
# class shares: KDDTrain+ (train) and KDDTest+ (test)
TRAIN_MIX = (0.535, 0.365, 0.093, 0.0066, 0.0004)
TEST_MIX = (0.4308, 0.3308, 0.1074, 0.1222, 0.0088)

TRAIN_NAMES = {
    "normal": ("normal",),
    "DoS": ("back", "land", "neptune", "pod", "smurf", "teardrop"),
    "Probe": ("ipsweep", "nmap", "portsweep", "satan"),
    "R2L": ("ftp_write", "guess_passwd", "imap", "multihop", "phf", "spy",
            "warezclient", "warezmaster"),
    "U2R": ("buffer_overflow", "loadmodule", "perl", "rootkit"),
}
# attack names that only the test file carries
TEST_ONLY_NAMES = {
    "normal": (),
    "DoS": ("mailbomb", "apache2", "processtable", "udpstorm"),
    "Probe": ("mscan", "saint"),
    "R2L": ("sendmail", "named", "snmpgetattack", "snmpguess", "xlock",
            "xsnoop", "worm"),
    "U2R": ("httptunnel", "ps", "sqlattack", "xterm"),
}

PROTOCOLS = ("tcp", "udp", "icmp")
SERVICES = (
    "http", "private", "domain_u", "smtp", "ftp_data", "eco_i", "other",
    "ecr_i", "telnet", "finger", "ftp", "auth", "Z39_50", "uucp",
    "courier", "bgp", "whois", "uucp_path", "iso_tsap", "time", "imap4",
    "nnsp", "vmnet", "urp_i", "domain", "ctf", "csnet_ns", "supdup",
    "discard", "http_443", "daytime", "gopher", "efs", "systat", "link",
    "exec", "hostnames", "name", "mtp", "echo", "klogin", "login", "ldap",
    "netbios_dgm", "sunrpc", "netbios_ssn", "netstat", "netbios_ns",
    "kshell", "ssh", "nntp", "pop_3", "sql_net", "IRC", "ntp_u", "rje",
    "remote_job", "pop_2", "X11", "printer", "shell", "urh_i", "tim_i",
    "red_i", "pm_dump", "tftp_u", "http_8001", "aol", "harvest", "http_2784",
)
TRAIN_SERVICES = SERVICES[:66]          # the last four appear in test only
FLAGS = ("SF", "S0", "REJ", "RSTR", "RSTO", "SH", "S1", "S2", "RSTOS0",
         "S3", "OTH")
TRAIN_FLAGS = FLAGS[:10]                # OTH appears in test only

COLUMNS = (
    "duration", "protocol_type", "service", "flag", "src_bytes",
    "dst_bytes", "land", "wrong_fragment", "urgent", "hot",
    "num_failed_logins", "logged_in", "num_compromised", "root_shell",
    "su_attempted", "num_root", "num_file_creations", "num_shells",
    "num_access_files", "num_outbound_cmds", "is_host_login",
    "is_guest_login", "count", "srv_count", "serror_rate",
    "srv_serror_rate", "rerror_rate", "srv_rerror_rate", "same_srv_rate",
    "diff_srv_rate", "srv_diff_host_rate", "dst_host_count",
    "dst_host_srv_count", "dst_host_same_srv_rate",
    "dst_host_diff_srv_rate", "dst_host_same_src_port_rate",
    "dst_host_srv_diff_host_rate", "dst_host_serror_rate",
    "dst_host_srv_serror_rate", "dst_host_rerror_rate",
    "dst_host_srv_rerror_rate", "labels", "difficulty",
)


@dataclass(frozen=True)
class NslTruth:
    """Facts the generator planted, for the benchmark's output checks."""

    rows: int
    attacks: int           # rows whose label is not 'normal'
    su_attempted_2: int    # rows carrying the dirty value 2.0


def _pick(rng: np.random.Generator, options, probs_by_class, cls):
    """Per-row categorical draw with class-dependent probabilities."""
    probs = np.asarray(probs_by_class)[cls]                 # (n, k)
    u = rng.random(len(cls))[:, None]
    idx = (u > np.cumsum(probs, axis=1)).sum(axis=1)
    return np.asarray(options, dtype=object)[np.minimum(idx, len(options) - 1)]


def _service_probs(rng: np.random.Generator, vocab_size: int, n_vocab: int):
    """One favoured-service distribution per class over the first
    ``vocab_size`` services (zero weight beyond)."""
    probs = np.zeros((len(CLASSES), n_vocab))
    for c in range(len(CLASSES)):
        w = rng.gamma(0.3, 1.0, vocab_size) + 1e-3
        probs[c, :vocab_size] = w / w.sum()
    return probs


def _rate(rng, lo_hi, cls):
    lo, hi = np.asarray(lo_hi).T
    x = lo[cls] + (hi[cls] - lo[cls]) * rng.beta(2.0, 2.0, len(cls))
    return np.round(np.clip(x, 0.0, 1.0), 2)


def generate(n: int, seed: int, test: bool) -> tuple[pd.DataFrame, NslTruth]:
    """``n`` connection records; ``test=True`` uses the KDDTest+ class
    mix and vocabulary (including names absent from train)."""
    rng = np.random.default_rng(seed)
    mix = TEST_MIX if test else TRAIN_MIX
    cls = rng.choice(len(CLASSES), size=n, p=np.asarray(mix) / sum(mix))

    labels = np.empty(n, dtype=object)
    for c, name in enumerate(CLASSES):
        rows = np.flatnonzero(cls == c)
        vocab = TRAIN_NAMES[name] + (TEST_ONLY_NAMES[name] if test else ())
        labels[rows] = np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), len(rows))]

    flip = np.flatnonzero(rng.random(n) < LABEL_NOISE)
    flipped = np.empty(len(flip), dtype=object)
    for j, i in enumerate(flip):
        if cls[i] != 0:
            flipped[j] = "normal"
        else:
            name = CLASSES[rng.integers(1, len(CLASSES))]
            vocab = TRAIN_NAMES[name] + (TEST_ONLY_NAMES[name] if test else ())
            flipped[j] = vocab[rng.integers(0, len(vocab))]
    labels[flip] = flipped

    # categorical features: the service/flag distributions are drawn
    # from a fixed generator so train and test share them
    vocab_rng = np.random.default_rng(7919)
    svc_probs = _service_probs(vocab_rng, len(TRAIN_SERVICES), len(SERVICES))
    flag_probs = np.array([
        [.90, .01, .03, .01, .01, .00, .02, .01, .00, .01, .00],
        [.25, .55, .15, .01, .02, .00, .00, .00, .01, .00, .01],
        [.45, .15, .25, .06, .03, .03, .00, .00, .02, .00, .01],
        [.80, .02, .03, .05, .06, .01, .01, .01, .00, .01, .00],
        [.85, .02, .02, .03, .03, .01, .02, .01, .00, .01, .00],
    ])
    if not test:
        svc_probs[:, len(TRAIN_SERVICES):] = 0.0
        flag_probs[:, len(TRAIN_FLAGS):] = 0.0
    else:
        svc_probs[:, len(TRAIN_SERVICES):] = 0.004
        flag_probs[:, len(TRAIN_FLAGS):] = 0.004
    svc_probs /= svc_probs.sum(axis=1, keepdims=True)
    flag_probs /= flag_probs.sum(axis=1, keepdims=True)
    proto_probs = [[.80, .15, .05], [.70, .05, .25], [.45, .15, .40],
                   [.95, .05, .00], [.97, .03, .00]]

    def ints(lam_by_class, hi=None):
        x = rng.poisson(np.asarray(lam_by_class, dtype=float)[cls]).astype(float)
        return np.minimum(x, hi) if hi is not None else x

    def bern(p_by_class):
        return (rng.random(n) < np.asarray(p_by_class)[cls]).astype(float)

    def heavy(mu_by_class, zero_p_by_class):
        x = np.round(rng.lognormal(np.asarray(mu_by_class)[cls], 1.5))
        return np.where(rng.random(n) < np.asarray(zero_p_by_class)[cls], 0.0, x)

    su = np.where(rng.random(n) < 0.002, 2.0, bern([.001, 0, 0, .01, .05]))
    su[rng.choice(n, size=min(n, 3), replace=False)] = 2.0   # always planted

    data = {
        "duration": heavy([3.0, 0.5, 1.0, 6.0, 4.0], [.90, .99, .95, .30, .40]),
        "protocol_type": _pick(rng, PROTOCOLS, proto_probs, cls),
        "service": _pick(rng, SERVICES, svc_probs, cls),
        "flag": _pick(rng, FLAGS, flag_probs, cls),
        "src_bytes": heavy([5.5, 3.0, 1.5, 6.5, 5.0], [.05, .60, .70, .10, .10]),
        "dst_bytes": heavy([7.0, 1.0, 0.5, 5.0, 6.0], [.30, .90, .95, .40, .20]),
        "land": bern([.0001, .002, 0, 0, 0]),
        "wrong_fragment": ints([.001, .08, 0, 0, 0], 3),
        "urgent": ints([.0002, 0, 0, .002, .01], 3),
        "hot": ints([.15, .02, .01, 3.0, 2.0], 77),
        "num_failed_logins": ints([.001, 0, 0, .3, .01], 5),
        "logged_in": bern([.72, .04, .05, .82, .90]),
        "num_compromised": ints([.01, .001, 0, .2, 1.5]),
        "root_shell": bern([.001, 0, 0, .01, .5]),
        "su_attempted": su,
        "num_root": ints([.01, 0, 0, .05, 2.0]),
        "num_file_creations": ints([.01, 0, 0, .1, 1.0], 43),
        "num_shells": ints([.0005, 0, 0, .01, .3], 2),
        "num_access_files": ints([.005, 0, 0, .02, .2], 9),
        "num_outbound_cmds": np.zeros(n),
        "is_host_login": bern([.0001, 0, 0, .001, 0]),
        "is_guest_login": bern([.008, 0, 0, .25, .01]),
        "count": ints([8.0, 160.0, 40.0, 2.0, 1.0], 511),
        "srv_count": ints([10.0, 12.0, 6.0, 2.0, 1.0], 511),
        "serror_rate": _rate(rng, [(0, .05), (.3, 1), (0, .6), (0, .05), (0, .05)], cls),
        "srv_serror_rate": _rate(rng, [(0, .05), (.3, 1), (0, .6), (0, .05), (0, .05)], cls),
        "rerror_rate": _rate(rng, [(0, .08), (0, .4), (.1, .9), (0, .2), (0, .1)], cls),
        "srv_rerror_rate": _rate(rng, [(0, .08), (0, .4), (.1, .9), (0, .2), (0, .1)], cls),
        "same_srv_rate": _rate(rng, [(.8, 1), (0, .2), (0, .6), (.6, 1), (.7, 1)], cls),
        "diff_srv_rate": _rate(rng, [(0, .1), (.02, .12), (.1, .9), (0, .2), (0, .1)], cls),
        "srv_diff_host_rate": _rate(rng, [(0, .3), (0, .05), (0, .8), (0, .2), (0, .3)], cls),
        "dst_host_count": ints([120.0, 250.0, 180.0, 40.0, 20.0], 255),
        "dst_host_srv_count": ints([180.0, 15.0, 10.0, 30.0, 15.0], 255),
        "dst_host_same_srv_rate": _rate(rng, [(.6, 1), (0, .15), (0, .4), (.2, 1), (.2, 1)], cls),
        "dst_host_diff_srv_rate": _rate(rng, [(0, .08), (.03, .1), (.1, .8), (0, .2), (0, .2)], cls),
        "dst_host_same_src_port_rate": _rate(rng, [(0, .3), (0, .1), (.3, 1), (0, .9), (.2, 1)], cls),
        "dst_host_srv_diff_host_rate": _rate(rng, [(0, .1), (0, .02), (0, .4), (0, .2), (0, .2)], cls),
        "dst_host_serror_rate": _rate(rng, [(0, .05), (.3, 1), (0, .5), (0, .05), (0, .05)], cls),
        "dst_host_srv_serror_rate": _rate(rng, [(0, .05), (.3, 1), (0, .5), (0, .05), (0, .05)], cls),
        "dst_host_rerror_rate": _rate(rng, [(0, .1), (0, .4), (.1, .9), (0, .3), (0, .1)], cls),
        "dst_host_srv_rerror_rate": _rate(rng, [(0, .1), (0, .4), (.1, .9), (0, .3), (0, .1)], cls),
        "labels": labels,
        "difficulty": rng.integers(0, 22, n),
    }
    frame = pd.DataFrame(data, columns=list(COLUMNS))
    truth = NslTruth(
        rows=n,
        attacks=int((labels != "normal").sum()),
        su_attempted_2=int((su == 2.0).sum()),
    )
    return frame, truth


def write_csv(frame: pd.DataFrame, path: str) -> None:
    """Headerless, unquoted CSV, numbers in their shortest round-trip
    form."""
    pa_csv.write_csv(pa.Table.from_pandas(frame, preserve_index=False), path,
                     pa_csv.WriteOptions(include_header=False, quoting_style="none"))


def write_pair(train_path: str, test_path: str, n_train: int, n_test: int,
               seed: int) -> tuple[NslTruth, NslTruth]:
    """Train and test files from one seed (independent streams)."""
    train, train_truth = generate(n_train, seed * 2 + 1, test=False)
    test, test_truth = generate(n_test, seed * 2 + 2, test=True)
    write_csv(train, train_path)
    write_csv(test, test_path)
    return train_truth, test_truth
