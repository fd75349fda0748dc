"""PigMix L1-L17-shaped Pig Latin scripts and their DuckDB oracles.

Each script reads the tables `inputs.pig_tables` writes (`$dir`) and takes
seeded `$param` values; `params(rng)` draws one set. The oracle SQL answers
the same question over the same parquet files with the same parameters,
and `oracles.canon` compares the two row sets. Every script ends in a
small relation, so the answer can be checked row by row.
"""

SCRIPTS = {}


def script(name, pig, sql, params):
    SCRIPTS[name] = {"pig": pig, "sql": sql, "params": params}


script("L1",  # map lookup + bincond over semi-structured rows
       """e = LOAD '$dir/events.parquet';
p = FOREACH e GENERATE TOMAP('t', event_type) AS m,
      (value > $vmin ? 1 : 0) AS hi;
q = FOREACH p GENERATE m#'t' AS t, hi;
g = GROUP q BY t;
r = FOREACH g GENERATE group AS t, SUM(q.hi) AS hi, COUNT(q) AS n;""",
       """SELECT event_type, sum(CASE WHEN value > $vmin THEN 1 ELSE 0 END),
       count(*) FROM events GROUP BY event_type""",
       lambda r: {"vmin": r.randint(20, 180)})

script("L2",  # replicated join against a small dimension
       """li = LOAD '$dir/lineitem.parquet';
pt = LOAD '$dir/part.parquet';
d = FILTER pt BY p_size < $size;
j = JOIN li BY l_partkey, d BY p_partkey USING 'replicated';
g = GROUP j BY p_brand;
r = FOREACH g GENERATE group AS brand, COUNT(j) AS n, SUM(j.l_quantity) AS q;""",
       """SELECT p_brand, count(*), sum(l_quantity) FROM lineitem
       JOIN part ON l_partkey = p_partkey WHERE p_size < $size
       GROUP BY p_brand""",
       lambda r: {"size": r.randint(5, 45)})

script("L3",  # hash join + aggregation
       """o = LOAD '$dir/orders.parquet';
c = LOAD '$dir/customer.parquet';
f = FILTER o BY o_totalprice > $price;
j = JOIN f BY o_custkey, c BY c_custkey;
g = GROUP j BY c_nationkey;
r = FOREACH g GENERATE group AS nk, SUM(j.o_totalprice) AS v, COUNT(j) AS n;""",
       """SELECT c_nationkey, sum(o_totalprice), count(*) FROM orders
       JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > $price
       GROUP BY c_nationkey""",
       lambda r: {"price": r.randint(10, 390) * 1000})

script("L4",  # nested DISTINCT inside a group
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_quantity <= $q;
p = FOREACH f GENERATE l_suppkey, l_partkey;
g = GROUP p BY l_suppkey;
r = FOREACH g { d = DISTINCT p.l_partkey; GENERATE group AS s, COUNT(d) AS n; };""",
       """SELECT l_suppkey, count(DISTINCT l_partkey) FROM lineitem
       WHERE l_quantity <= $q GROUP BY l_suppkey""",
       lambda r: {"q": r.randint(5, 45)})

script("L5",  # anti-join via the COGROUP + IsEmpty idiom
       """c = LOAD '$dir/customer.parquet';
o = LOAD '$dir/orders.parquet';
u = FILTER o BY o_orderpriority == '$prio' AND o_totalprice > $price;
cg = COGROUP c BY c_custkey, u BY o_custkey;
a = FILTER cg BY IsEmpty(u);
r = FOREACH a GENERATE group AS ck;""",
       """SELECT c_custkey FROM customer WHERE c_custkey NOT IN (
         SELECT o_custkey FROM orders WHERE o_orderpriority = '$prio'
         AND o_totalprice > $price)""",
       lambda r: {"prio": r.choice(["1-URGENT", "2-HIGH", "5-LOW"]),
                  "price": r.randint(0, 200) * 1000})

script("L6",  # group-agg on a narrow key set
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_discount <= $disc;
g = GROUP f BY (l_returnflag, l_linestatus);
r = FOREACH g GENERATE FLATTEN(group) AS (rf, ls), SUM(f.l_quantity) AS q,
      COUNT(f) AS n;""",
       """SELECT l_returnflag, l_linestatus, sum(l_quantity), count(*)
       FROM lineitem WHERE l_discount <= $disc
       GROUP BY l_returnflag, l_linestatus""",
       lambda r: {"disc": r.randint(1, 9)})

script("L7",  # group-agg on a wide key set
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_tax >= $tax;
g = GROUP f BY l_partkey;
r = FOREACH g GENERATE group AS pk, SUM(f.l_extendedprice) AS v,
      MAX(f.l_quantity) AS mq;""",
       """SELECT l_partkey, sum(l_extendedprice), max(l_quantity)
       FROM lineitem WHERE l_tax >= $tax GROUP BY l_partkey""",
       lambda r: {"tax": r.randint(0, 7)})

script("L8",  # algebraic aggregates in one pass (combiner)
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_quantity > $q;
g = GROUP f ALL;
r = FOREACH g GENERATE COUNT(f) AS n, AVG(f.l_quantity) AS a,
      SUM(f.l_extendedprice) AS s, MIN(f.l_extendedprice) AS lo;""",
       """SELECT count(*), avg(l_quantity), sum(l_extendedprice),
       min(l_extendedprice) FROM lineitem WHERE l_quantity > $q""",
       lambda r: {"q": r.randint(1, 45)})

script("L9",  # order by a single key
       """o = LOAD '$dir/orders.parquet';
f = FILTER o BY o_orderstatus == '$st';
s = ORDER f BY o_totalprice DESC, o_orderkey;
l = LIMIT s $k;
r = FOREACH l GENERATE o_orderkey, o_totalprice;""",
       """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderstatus = '$st'
       ORDER BY o_totalprice DESC, o_orderkey LIMIT $k""",
       lambda r: {"st": r.choice(["F", "O", "P"]),
                  "k": r.randint(50, 500)})

script("L10",  # order by several keys
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_discount == $disc;
s = ORDER f BY l_returnflag, l_quantity DESC, l_extendedprice,
      l_orderkey, l_linenumber;
l = LIMIT s $k;
r = FOREACH l GENERATE l_orderkey, l_linenumber, l_returnflag, l_quantity;""",
       """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
       FROM lineitem WHERE l_discount = $disc
       ORDER BY l_returnflag, l_quantity DESC, l_extendedprice,
       l_orderkey, l_linenumber LIMIT $k""",
       lambda r: {"disc": r.randint(0, 10), "k": r.randint(50, 500)})

script("L11",  # distinct + union
       """li = LOAD '$dir/lineitem.parquet';
o = LOAD '$dir/orders.parquet';
fa = FILTER li BY l_quantity > $q;
a = FOREACH fa GENERATE l_orderkey AS k;
da = DISTINCT a;
fb = FILTER o BY o_totalprice < $price;
b = FOREACH fb GENERATE o_orderkey AS k;
db = DISTINCT b;
u = UNION da, db;
d = DISTINCT u;
g = GROUP d ALL;
r = FOREACH g GENERATE COUNT(d) AS n, MAX(d.k) AS mx;""",
       """SELECT count(*), max(k) FROM (
         SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > $q
         UNION SELECT o_orderkey FROM orders WHERE o_totalprice < $price)""",
       lambda r: {"q": r.randint(30, 49), "price": r.randint(10, 200) * 1000})

script("L12",  # one scan split into several branches
       """o = LOAD '$dir/orders.parquet';
SPLIT o INTO hi IF o_totalprice >= $price, lo OTHERWISE;
gh = GROUP hi BY o_orderpriority;
rh = FOREACH gh GENERATE group AS k, 'hi' AS side, COUNT(hi) AS n;
gl = GROUP lo BY o_orderstatus;
rl = FOREACH gl GENERATE group AS k, 'lo' AS side, COUNT(lo) AS n;
r = UNION rh, rl;""",
       """SELECT o_orderpriority, 'hi', count(*) FROM orders
       WHERE o_totalprice >= $price GROUP BY o_orderpriority
       UNION ALL SELECT o_orderstatus, 'lo', count(*) FROM orders
       WHERE o_totalprice < $price GROUP BY o_orderstatus""",
       lambda r: {"price": r.randint(50, 350) * 1000})

script("L13",  # left outer join keeps unmatched rows
       """c = LOAD '$dir/customer.parquet';
o = LOAD '$dir/orders.parquet';
u = FILTER o BY o_orderpriority == '$prio' AND o_totalprice > $price;
j = JOIN c BY c_custkey LEFT OUTER, u BY o_custkey;
g = GROUP j BY c_mktsegment;
r = FOREACH g GENERATE group AS seg, COUNT_STAR(j) AS n,
      COUNT(j.o_orderkey) AS m;""",
       """SELECT c_mktsegment, count(*), count(o_orderkey) FROM customer
       LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '$prio'
         AND o_totalprice > $price) ON c_custkey = o_custkey
       GROUP BY c_mktsegment""",
       lambda r: {"prio": r.choice(["1-URGENT", "3-MEDIUM", "4-NOT SPECIFIED"]),
                  "price": r.randint(0, 300) * 1000})

script("L14",  # merge join
       """o = LOAD '$dir/orders.parquet';
c = LOAD '$dir/customer.parquet';
f = FILTER o BY o_totalprice < $price;
j = JOIN f BY o_custkey, c BY c_custkey USING 'merge';
g = GROUP j BY c_mktsegment;
r = FOREACH g GENERATE group AS seg, COUNT(j) AS n, MAX(j.c_acctbal) AS mb;""",
       """SELECT c_mktsegment, count(*), max(c_acctbal) FROM orders
       JOIN customer ON o_custkey = c_custkey WHERE o_totalprice < $price
       GROUP BY c_mktsegment""",
       lambda r: {"price": r.randint(20, 380) * 1000})

script("L15",  # several distinct aggregates in one group
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_quantity >= $q;
g = GROUP f BY l_returnflag;
r = FOREACH g { a = DISTINCT f.l_partkey; b = DISTINCT f.l_suppkey;
  GENERATE group AS rf, COUNT(a) AS np, COUNT(b) AS ns,
    SUM(f.l_quantity) AS q; };""",
       """SELECT l_returnflag, count(DISTINCT l_partkey),
       count(DISTINCT l_suppkey), sum(l_quantity) FROM lineitem
       WHERE l_quantity >= $q GROUP BY l_returnflag""",
       lambda r: {"q": r.randint(1, 45)})

script("L16",  # ordered bag per group (top-k inside a nested FOREACH)
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_tax <= $tax;
g = GROUP f BY l_returnflag;
r = FOREACH g { s = ORDER f BY l_extendedprice DESC; t = LIMIT s $k;
  GENERATE group AS rf, SUM(t.l_extendedprice) AS top; };""",
       """SELECT rf, sum(p) FROM (SELECT l_returnflag AS rf,
         l_extendedprice AS p, row_number() OVER (PARTITION BY
         l_returnflag ORDER BY l_extendedprice DESC) AS rn
         FROM lineitem WHERE l_tax <= $tax) WHERE rn <= $k GROUP BY rf""",
       lambda r: {"tax": r.randint(0, 8), "k": r.randint(3, 30)})

script("L17",  # wide multi-column group key
       """li = LOAD '$dir/lineitem.parquet';
f = FILTER li BY l_linenumber <= $ln AND l_quantity > $q;
g = GROUP f BY (l_returnflag, l_linestatus, l_tax, l_discount);
r = FOREACH g GENERATE FLATTEN(group) AS (rf, ls, tx, dc), COUNT(f) AS n,
      SUM(f.l_quantity) AS q;""",
       """SELECT l_returnflag, l_linestatus, l_tax, l_discount, count(*),
       sum(l_quantity) FROM lineitem WHERE l_linenumber <= $ln
       AND l_quantity > $q
       GROUP BY l_returnflag, l_linestatus, l_tax, l_discount""",
       lambda r: {"ln": r.randint(1, 4), "q": r.randint(0, 40)})


def substitute(text, params):
    """`$name` substitution, longest names first (`$dir` vs `$disc`)."""
    for k in sorted(params, key=len, reverse=True):
        text = text.replace("$" + k, str(params[k]))
    return text


def op_sequence(rng, rounds):
    """`rounds` rounds; each runs every script once, in a seeded order,
    with freshly drawn parameters (new literals, so new generated code)."""
    names = sorted(SCRIPTS)
    ops = []
    for _ in range(rounds):
        order = names[:]
        rng.shuffle(order)
        for n in order:
            ops.append({"script": n, "params": {
                k: str(v) for k, v in SCRIPTS[n]["params"](rng).items()}})
    return ops
