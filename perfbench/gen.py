"""Seeded payload generator for the streaming workloads.

Payloads are the reference's 20-field JSON records (one per line) with
`date_time` masked. The stay-category mix follows BASELINE.md
(Short 89.1 %, Standard 9.9 %, Standard extended 0.6 %, Long 0.3 %,
Erroneous 0.1 %), plus fixed shares of malformed and partly-typed
payloads. The generator keeps its own answer: per category, the count of
non-null `hotel_id`s and their exact distinct set, under the engine's
parity semantics (StreamingSpec `json payload roundtrip`):

- a malformed payload decodes to an all-null record: `Erroneous data`,
  no hotel id;
- a field of the wrong JSON type decodes to null and the rest survive.
"""
import datetime
import random

CATEGORIES = ["Short stay", "Standard stay", "Standard extended stay",
              "Long stay", "Erroneous data"]
# cumulative shares of the clean payloads, BASELINE.md README snapshot
MIX = [(0.891, 0), (0.990, 1), (0.996, 2), (0.999, 3), (1.0, 4)]
NIGHTS = {0: (1, 4), 1: (5, 10), 2: (11, 14), 3: (15, 28)}
MALFORMED_SHARE = 0.005
PARTLY_TYPED_SHARE = 0.01
ERRONEOUS = 4

_BASE = datetime.date(2017, 1, 1)
_DASH = [(_BASE + datetime.timedelta(d)).isoformat() for d in range(800)]
_SLASH = [d.replace("-", "/") for d in _DASH]


class Answer:
    """Per category: count of non-null hotel ids and their distinct set."""

    def __init__(self):
        self.count = [0] * len(CATEGORIES)
        self.ids = [set() for _ in CATEGORIES]
        self.seen = [False] * len(CATEGORIES)

    def add(self, cat, hotel_id):
        self.seen[cat] = True
        if hotel_id is not None:
            self.count[cat] += 1
            self.ids[cat].add(hotel_id)

    def merge(self, other):
        for c in range(len(CATEGORIES)):
            self.seen[c] = self.seen[c] or other.seen[c]
            self.count[c] += other.count[c]
            self.ids[c] |= other.ids[c]

    def rows(self):
        """{category: (hotels_amount, distinct_hotels)} for seen categories."""
        return {CATEGORIES[c]: (self.count[c], len(self.ids[c]))
                for c in range(len(CATEGORIES)) if self.seen[c]}


class Generator:
    def __init__(self, seed, id_space):
        self.rng = random.Random(seed)
        self.id_space = id_space
        self.next_id = 1
        r = self.rng.randrange
        # the fields the topology never reads come from seeded pools
        self.head = ['"site_name":%d,"posa_container":%d,"user_location_country":%d,'
                     '"user_location_region":%d,"user_location_city":%d,'
                     '"orig_destination_distance":%d.%02d,"user_id":%d,"is_mobile":%d,'
                     '"is_package":%d,"channel":%d'
                     % (r(50), r(5), r(250), r(1000), r(60000), r(9000), r(100),
                        r(1300000), r(2), r(2), r(11)) for _ in range(512)]
        self.tail = ['"srch_adults_cnt":%d,"srch_children_cnt":%d,"srch_rm_cnt":%d,'
                     '"srch_destination_id":%d,"srch_destination_type_id":%d'
                     % (1 + r(4), r(3), 1 + r(3), r(65000), 1 + r(9))
                     for _ in range(512)]

    def lines(self, n, answer):
        """n payload lines; folds each line's expected effect into answer."""
        rng = self.rng
        rnd, rr = rng.random, rng.randrange
        out = []
        for _ in range(n):
            pid = self.next_id
            self.next_id += 1
            u = rnd()
            if u < MALFORMED_SHARE:
                k = rr(3)
                if k == 0:
                    out.append('{"id":%d,"hotel_id":' % pid)
                elif k == 1:
                    out.append('not json %d' % pid)
                else:
                    out.append('[%d]' % pid)
                answer.add(ERRONEOUS, None)
                continue
            cu = rnd()
            cat = next(c for limit, c in MIX if cu < limit)
            day = rr(730)
            dates = _SLASH if rr(10) == 0 else _DASH
            if cat == ERRONEOUS:
                k = rr(3)
                if k == 0:    # check-out on or before check-in
                    ci, co = '"%s"' % dates[day + 7], '"%s"' % dates[day + rr(8)]
                elif k == 1:  # unparseable check-in
                    ci, co = '"n/a"', '"%s"' % dates[day]
                else:         # check-in missing: decoded as null
                    ci, co = None, '"%s"' % dates[day]
            else:
                lo, hi = NIGHTS[cat]
                ci, co = '"%s"' % dates[day], '"%s"' % dates[day + lo + rr(hi - lo + 1)]
            hotel = 1 + rr(self.id_space)
            hotel_json = str(hotel)
            head, tail = self.head[rr(512)], self.tail[rr(512)]
            if u < MALFORMED_SHARE + PARTLY_TYPED_SHARE:
                k = rr(4)
                if k == 0:    # id as a quoted string: hotel_id decodes to null
                    hotel_json, hotel = '"%d"' % hotel, None
                elif k == 1:  # fractional id: null
                    hotel_json, hotel = '%d.5' % hotel, None
                elif k == 2:  # string in an int field nobody reads: no effect
                    tail = tail.replace('"srch_adults_cnt":', '"srch_adults_cnt":"two","x":', 1)
                elif ci is not None and ci[1].isdigit():  # number in a date field: unparseable
                    ci, cat = ci.replace('"', '').replace('-', '').replace('/', ''), ERRONEOUS
            ci_field = '' if ci is None else '"srch_ci":%s,' % ci
            out.append('{"id":%d,"date_time":"0000-00-00 00:00:00",%s,%s"srch_co":%s,%s,'
                       '"hotel_id":%s}' % (pid, head, ci_field, co, tail, hotel_json))
            answer.add(cat, hotel)
        return out


def write_file(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def stage_files(seed, id_space, n_files, rows_per_file, path_of):
    """Write n_files payload files; returns one Answer per file."""
    gen = Generator(seed, id_space)
    answers = []
    for i in range(n_files):
        a = Answer()
        write_file(path_of(i), gen.lines(rows_per_file, a))
        answers.append(a)
    return answers
