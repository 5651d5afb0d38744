"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship GLM fit + scoring on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2); each
callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — the DuckDB-equivalent SQL for each query.

Design: every SQL-expressible kernel query is ONE shared ANSI-SQL string
(functions restricted to the Spark∩DuckDB dialect: ln, exp, round, pow,
stddev_pop, CASE, CAST) executed verbatim by both engines — the Spark
callable registers the raw parquet tables as temp views and runs the same
text the oracle runs. Rounding is pinned in the query text to make the
value-hashes float-stable (SURVEY.md §2.6).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Fixed kernel-check coefficients (FIXTURES.md §A): beta = [0.1,-0.2,0.3,0.05]
XB = "(0.1*f1 - 0.2*f2 + 0.3*f3 + 0.05*f4)"
SIG = f"(1/(1+exp(-{XB})))"

# glm derivation — identical text in Spark SQL and DuckDB (FIXTURES.md §A).
GLM = """glm AS (
  SELECT
    CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity,
    l_extendedprice, l_discount, l_tax, l_returnflag) AS BIGINT) AS id,
    l_quantity * 1.0        AS f1,
    l_extendedprice / 1e4   AS f2,
    l_discount * 10.0       AS f3,
    l_tax * 10.0            AS f4,
    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
    l_quantity * 1.0        AS label_reg,
    CAST(round(l_quantity) AS DOUBLE) AS label_cnt
  FROM lineitem
)"""


def _grad_sql(residual: str, label_expr: str) -> str:
    """One-pass p-vector gradient: aggregate once, unpivot via CASE.

    Mirrors the engine's reduction (the p gradient sums of one scan —
    kernels.loss_gradient)."""
    sums = ", ".join(f"sum(f{j}*r) AS g{j}" for j in range(1, 5))
    case = "CASE j WHEN 1 THEN g1 WHEN 2 THEN g2 WHEN 3 THEN g3 ELSE g4 END"
    return f"""WITH {GLM},
t AS (SELECT f1, f2, f3, f4, {residual} AS r FROM (SELECT *, {label_expr} AS yy FROM glm) s),
agg AS (SELECT {sums} FROM t),
js AS (SELECT 1 AS j UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4)
SELECT j, CAST(round({case}, 4) AS DOUBLE) AS g FROM agg, js ORDER BY j"""


def _gram_sql() -> str:
    """Logistic-hessian Gram entries sum(w*f_i*f_j), upper triangle, one scan."""
    pairs = [(i, j) for i in range(1, 5) for j in range(i, 5)]
    sums = ", ".join(f"sum(w*f{i}*f{j}) AS h{i}{j}" for i, j in pairs)
    whens = " ".join(
        f"WHEN i = {i} AND j = {j} THEN h{i}{j}" for i, j in pairs
    )
    ijs = " UNION ALL ".join(f"SELECT {i} AS i, {j} AS j" for i, j in pairs)
    return f"""WITH {GLM},
t AS (SELECT f1, f2, f3, f4, {SIG}*(1-{SIG}) AS w FROM glm),
agg AS (SELECT {sums} FROM t),
ijs AS ({ijs})
SELECT i, j, CAST(round(CASE {whens} END, 4) AS DOUBLE) AS h
FROM agg, ijs ORDER BY i, j"""


# --- declared correctness queries (SURVEY.md §2.6, Q1-Q15) -----------------
KERNEL_SQL: dict[str, str] = {
    # P1 mat-vec sample
    "q01_matvec": f"""WITH {GLM}
SELECT id, CAST(round({XB}, 6) AS DOUBLE) AS xb FROM glm ORDER BY id LIMIT 100""",
    # family loglike scalars (families.py:25,64,100)
    "q02_logistic_loglike": f"""WITH {GLM}
SELECT CAST(round(sum({XB} + ln(1+exp(-{XB})) - label*{XB}), 3) AS DOUBLE) AS loglike FROM glm""",
    "q03_normal_loglike": f"""WITH {GLM}
SELECT CAST(round(sum(pow(label_reg - {XB}, 2)), 3) AS DOUBLE) AS sse FROM glm""",
    "q04_poisson_loglike": f"""WITH {GLM}
SELECT CAST(round(sum(exp({XB}) - label_cnt*{XB}), 3) AS DOUBLE) AS loglike FROM glm""",
    # family gradients (families.py:45,80,117): X^T r
    "q05_logistic_gradient": _grad_sql(f"{SIG} - yy", "label"),
    "q06_normal_gradient": _grad_sql(f"2*({XB} - yy)", "label_reg"),
    "q07_poisson_gradient": _grad_sql(f"exp({XB}) - yy", "label_cnt"),
    # P3 weighted Gram / logistic hessian (families.py:51)
    "q08_gram_hessian": _gram_sql(),
    # P6 column moments — population std (utils.py:19 parity trap)
    "q09_moments": f"""WITH {GLM},
js AS (SELECT 1 AS j UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4),
agg AS (SELECT avg(f1) m1, avg(f2) m2, avg(f3) m3, avg(f4) m4,
               stddev_pop(f1) s1, stddev_pop(f2) s2, stddev_pop(f3) s3, stddev_pop(f4) s4 FROM glm)
SELECT j,
  CAST(round(CASE j WHEN 1 THEN m1 WHEN 2 THEN m2 WHEN 3 THEN m3 ELSE m4 END, 6) AS DOUBLE) AS mean,
  CAST(round(CASE j WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3 ELSE s4 END, 6) AS DOUBLE) AS std
FROM agg, js ORDER BY j""",
    # P4 sigmoid map (utils.py:49-51)
    "q10_sigmoid": f"""WITH {GLM}
SELECT id, CAST(round({SIG}, 6) AS DOUBLE) AS sig FROM glm ORDER BY id LIMIT 100""",
    # metrics (utils.py:172-181)
    # round 7: + distributed ROC AUC (tie-aware rank-sum over score
    # groups; scores rounded to 6dp BEFORE grouping so both engines form
    # identical tie groups — raw libm sigmoids can differ in the last ulp)
    "q11_accuracy": f"""WITH {GLM},
t AS (SELECT round({SIG}, 6) AS s, CAST(label > 0.5 AS DOUBLE) AS y FROM glm),
g AS (SELECT s, sum(y) AS pos, count(*) - sum(y) AS neg FROM t GROUP BY s),
o AS (SELECT pos, neg,
        coalesce(sum(neg) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      FROM g)
SELECT
  CAST(round((SELECT avg(CASE WHEN (s > 0.5) = (y > 0.5) THEN 1.0 ELSE 0.0 END)
    FROM t), 6) AS DOUBLE) AS acc,
  CAST(round(sum(pos * (cumneg + neg / 2.0))
             / ((SELECT sum(y) FROM t) * (SELECT count(*) - sum(y) FROM t)), 6) AS DOUBLE) AS auc
FROM o""",
    "q12_mse": f"""WITH {GLM}
SELECT CAST(round(avg(pow(label_reg - {XB}, 2)), 6) AS DOUBLE) AS mse FROM glm""",
    "q13_poisson_deviance": f"""WITH {GLM},
t AS (SELECT label_cnt AS y, exp({XB}) AS mu FROM glm)
SELECT CAST(round(2*sum(y*ln(1 + y/mu) - (y - mu)), 3) AS DOUBLE) AS deviance FROM t""",
    # P9 intercept append (utils.py:139-162)
    "q14_add_intercept": f"""WITH {GLM}
SELECT id, f1, f2, f3, f4, CAST(1.0 AS DOUBLE) AS icpt FROM glm ORDER BY id LIMIT 100""",
    # O2 unrolled solver iterations (VERDICT r4 #1): the GD update line
    # (algorithms.py:154 `beta - stepSize*grad`) and the ISTA candidate
    # (algorithms.py:479-481 `prox(beta - s*grad, s*lamduh)`) with the line
    # search pinned to a fixed step, so the *iteration math* — not just the
    # kernels it calls — is under the DuckDB hash gate. q48 additionally
    # re-evaluates the loss AT the updated beta (second nested aggregate).
    # (q48_solver_steps assigned below — it needs the pinned
    # GD_STEP_S / PROX_LAMDUH literals defined after this dict.)
    # O1 standardization rewrite (utils.py:31) — scale/center by moments
    "q15_standardize": f"""WITH {GLM},
stats AS (SELECT avg(f1) m1, avg(f2) m2, avg(f3) m3, avg(f4) m4,
                 stddev_pop(f1) s1, stddev_pop(f2) s2,
                 stddev_pop(f3) s3, stddev_pop(f4) s4 FROM glm)
SELECT id,
  CAST(round((f1-m1)/s1, 6) AS DOUBLE) AS z1,
  CAST(round((f2-m2)/s2, 6) AS DOUBLE) AS z2,
  CAST(round((f3-m3)/s3, 6) AS DOUBLE) AS z3,
  CAST(round((f4-m4)/s4, 6) AS DOUBLE) AS z4
FROM glm, stats ORDER BY id LIMIT 100""",
}

# Pinned solver-iteration constants (shared literal text between the engine
# call and the oracle SQL — both sides compute s*lamduh as the same IEEE
# product, so the soft-threshold boundary cannot drift).
GD_STEP_S = 1e-7     # fixed step: beta1 moves O(0.01-0.1) at sf0.01 gradients
PROX_LAMDUH = 6e5    # s*lamduh = 0.06: clamps 2 coords of beta1, shrinks 2

_B1_CTES = f"""t AS (SELECT f1, f2, f3, f4, ({SIG} - label) AS r FROM glm),
agg AS (SELECT {", ".join(f"sum(f{j}*r) AS g{j}" for j in range(1, 5))} FROM t),
b AS (SELECT 0.1 - {GD_STEP_S!r}*g1 AS b1, -0.2 - {GD_STEP_S!r}*g2 AS b2,
             0.3 - {GD_STEP_S!r}*g3 AS b3, 0.05 - {GD_STEP_S!r}*g4 AS b4 FROM agg),
js AS (SELECT 1 AS j UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4)"""
_B1_CASE = "CASE j WHEN 1 THEN b1 WHEN 2 THEN b2 WHEN 3 THEN b3 ELSE b4 END"

# One merged solver-step query (round 6): the GD update + its loss AND the
# ISTA/prox candidate share the same gradient CTE, so one 4-row result
# carries beta1 / loss1 / beta1_prox. (Formerly q48 + q49 — merged to keep
# the declared-query count at 50: the driver gate records at most 50 rows,
# and r5's three newest queries fell off the end. The prox column is the
# L1 soft-threshold exactly as regularizers.L1.proximal_operator:
# max(0, v - t) - max(0, -v - t), t = s*lamduh as the same float product.)
# Pinned (p=4, k=3) softmax coefficient matrix — shared literal values
# between kernels.softmax_loss_gradient (engine) and the SQL below
# (oracle), the BETA convention. Row j = feature f{j+1}, column c = class.
SOFTMAX_B = [
    [0.1, -0.05, 0.02],
    [0.0, 0.1, -0.1],
    [0.2, 0.0, -0.2],
    [-0.1, 0.05, 0.0],
]


def _softmax_z(c: int) -> str:
    return " + ".join(f"({SOFTMAX_B[j][c]!r})*f{j + 1}" for j in range(4))


_SM_CTES = f"""sm AS (
  SELECT f1, f2, f3, f4, CAST(label_cnt % 3 AS INT) AS yc,
    {_softmax_z(0)} AS z0, {_softmax_z(1)} AS z1, {_softmax_z(2)} AS z2
  FROM glm
),
sme AS (SELECT *, greatest(z0, z1, z2) AS mx FROM sm),
smt AS (SELECT *, exp(z0-mx) AS e0, exp(z1-mx) AS e1, exp(z2-mx) AS e2 FROM sme),
smtt AS (SELECT *, e0+e1+e2 AS tt FROM smt),
smagg AS (SELECT
  sum(mx + ln(tt) - CASE yc WHEN 0 THEN z0 WHEN 1 THEN z1 ELSE z2 END) AS smloss,
  {", ".join(
    f"sum(f{j}*(e{c}/tt - CASE WHEN yc = {c} THEN 1 ELSE 0 END)) AS sg{j}_{c}"
    for j in range(1, 5) for c in range(3)
  )}
FROM smtt)"""
_SG_CASE = {
    c: f"CASE j WHEN 1 THEN sg1_{c} WHEN 2 THEN sg2_{c} "
       f"WHEN 3 THEN sg3_{c} ELSE sg4_{c} END"
    for c in range(3)
}

# Round 11 (VERDICT r10 #1): the weighted/offset kernel math under the
# same gate. Pinned expressions shared by both engines: integer weight
# w = CAST(label_cnt AS INT) % 3 + 1 (∈ {1,2,3}) and offset o = 0.05*f2.
# Weighted logistic loss Σ w·ll and gradient Σ w·f_j·(σ(xb) − y) exercise
# kernels.loss_gradient(weight_col=...); the offset pair evaluates the
# same kernel at xb+o (kernels.loss_gradient(offset_col=...)) — exactly
# the r10 extension-session math (one extra multiply/add per scan).
# Round 12: pinned direction for the Newton-CG Hessian-vector product —
# shared literal values between kernels.hessian_vector_product (engine)
# and the hg{j} sums (oracle): Hv_j = Σ f_j·σ(xb)(1−σ(xb))·(x·v).
HVP_V = [0.05, 0.1, -0.05, 0.2]
_WO_CTES = f"""wo AS (
  SELECT f1, f2, f3, f4, label,
    CAST(CAST(label_cnt AS INT) % 3 + 1 AS DOUBLE) AS w,
    0.05*f2 AS o, {XB} AS xb
  FROM glm
),
woagg AS (SELECT
  sum(xb + ln(1+exp(-xb)) - label*xb) AS mlgl0,
  sum(w*(xb + ln(1+exp(-xb)) - label*xb)) AS wloss,
  {", ".join(f"sum(w*f{j}*(1/(1+exp(-xb)) - label)) AS wg{j}" for j in range(1, 5))},
  sum((xb+o) + ln(1+exp(-(xb+o))) - label*(xb+o)) AS oloss,
  sum(pow(label - 1/(1+exp(-xb)), 2)
      / ((1/(1+exp(-xb))) * (1 - 1/(1+exp(-xb))))) AS pchi2,
  sum(sign(label - 1/(1+exp(-xb)))
      * sqrt(greatest(0, 2*(CASE WHEN label > 0.5
                            THEN -ln(1/(1+exp(-xb)))
                            ELSE -ln(1 - 1/(1+exp(-xb))) END)))) AS dres,
  {", ".join(
    f"sum(f{j} * (1/(1+exp(-xb))) * (1 - 1/(1+exp(-xb)))"
    f" * ({' + '.join(f'({v!r})*f{i + 1}' for i, v in enumerate(HVP_V))}))"
    f" AS hg{j}"
    for j in range(1, 5)
  )},
  {", ".join(f"sum(f{j}*(1/(1+exp(-(xb+o))) - label)) AS og{j}" for j in range(1, 5))}
FROM wo)"""
_HG_CASE = "CASE j WHEN 1 THEN hg1 WHEN 2 THEN hg2 WHEN 3 THEN hg3 ELSE hg4 END"
_WG_CASE = "CASE j WHEN 1 THEN wg1 WHEN 2 THEN wg2 WHEN 3 THEN wg3 ELSE wg4 END"
_OG_CASE = "CASE j WHEN 1 THEN og1 WHEN 2 THEN og2 WHEN 3 THEN og3 ELSE og4 END"

# Round 13 (cont., the VERDICT r12 #7 principle applied to the SPARSE
# layer): the CSR bincount scatter/gather path (kernels_sparse) under the
# same gate.  The engine masks coordinate (label_cnt % 4) to zero and runs
# the masked array through sources.vectors.to_sparse_columns (declarative
# nonzero filter), so every row reaches the sparse kernels RAGGED — the
# variable-length flatten/scatter is what gets hashed, not a fixed-width
# disguise.  The oracle recomputes the same masked sums symbolically:
# m{j} = 0 where masked (an absent sparse coordinate contributes exactly
# nothing to every bincount, which is IEEE-identical to adding 0·beta_j).
_SP_XBM = "(0.1*m1 - 0.2*m2 + 0.3*m3 + 0.05*m4)"
_SP_CTES = f"""sp AS (
  SELECT label,
    {", ".join(
        f"CASE WHEN CAST(label_cnt AS INT) % 4 = {j - 1} THEN 0.0 ELSE f{j} END AS m{j}"
        for j in range(1, 5)
    )}
  FROM glm
),
spx AS (SELECT *, {_SP_XBM} AS xbm,
  ({" + ".join(f"({v!r})*m{i + 1}" for i, v in enumerate(HVP_V))}) AS xvm
  FROM sp),
spagg AS (SELECT
  sum(xbm + ln(1+exp(-xbm)) - label*xbm) AS sloss,
  {", ".join(f"sum(m{j}*(1/(1+exp(-xbm)) - label)) AS spg{j}" for j in range(1, 5))},
  {", ".join(
    f"sum(m{j} * (1/(1+exp(-xbm))) * (1 - 1/(1+exp(-xbm))) * xvm) AS sph{j}"
    for j in range(1, 5)
  )}
FROM spx)"""
_SPG_CASE = "CASE j WHEN 1 THEN spg1 WHEN 2 THEN spg2 WHEN 3 THEN spg3 ELSE spg4 END"
_SPH_CASE = "CASE j WHEN 1 THEN sph1 WHEN 2 THEN sph2 WHEN 3 THEN sph3 ELSE sph4 END"

# Round 13 (cont.): the fused multi-probe LINE-SEARCH kernels under the
# gate — kernels.multi_loss_gradient (the per-iteration probe every
# dense gd/lbfgs line search actually runs) and its sparse twin
# multi_loss_gradient_sparse, both evaluated at the candidate pair
# [BETA, beta1].  Candidate 0's loss/gradient must land on the values the
# single-candidate kernels already gate (mlgl0 vs q02, mlgg0 vs q05 —
# same oracle sums), so the fused path cannot drift from the fused-free
# one; candidate 1's loss re-derives loss1 through the arrow GEMM and
# its gradient (mlgg1 / smlgg1) is new math the b CTE recomputes.
_MLG_CTES = f"""mlg AS (SELECT
  {", ".join(
    f"sum(f{j}*(1/(1+exp(-xb1)) - label)) AS mg{j}" for j in range(1, 5)
  )}
FROM (SELECT f1, f2, f3, f4, label,
      (b1*f1 + b2*f2 + b3*f3 + b4*f4) AS xb1 FROM glm, b) s),
smlg AS (SELECT
  sum(xb1m + ln(1+exp(-xb1m)) - label*xb1m) AS smlgl1,
  {", ".join(
    f"sum(m{j}*(1/(1+exp(-xb1m)) - label)) AS smg{j}" for j in range(1, 5)
  )}
FROM (SELECT m1, m2, m3, m4, label,
      (b1*m1 + b2*m2 + b3*m3 + b4*m4) AS xb1m FROM sp, b) s)"""
_MG_CASE = "CASE j WHEN 1 THEN mg1 WHEN 2 THEN mg2 WHEN 3 THEN mg3 ELSE mg4 END"
_SMG_CASE = "CASE j WHEN 1 THEN smg1 WHEN 2 THEN smg2 WHEN 3 THEN smg3 ELSE smg4 END"
_G_CASE = "CASE j WHEN 1 THEN g1 WHEN 2 THEN g2 WHEN 3 THEN g3 ELSE g4 END"

KERNEL_SQL["q48_solver_steps"] = f"""WITH {GLM},
{_B1_CTES},
{_SM_CTES},
{_WO_CTES},
{_SP_CTES},
{_MLG_CTES},
l AS (SELECT sum(xb + ln(1+exp(-xb)) - label*xb) AS loss1
      FROM (SELECT (b1*f1 + b2*f2 + b3*f3 + b4*f4) AS xb, label FROM glm, b) s),
bt AS (SELECT j, {_B1_CASE} AS v FROM b, js)
SELECT j,
  CAST(round(v, 6) AS DOUBLE) AS beta1,
  CAST(round(loss1, 3) AS DOUBLE) AS loss1,
  CAST(round(greatest(0, v - {GD_STEP_S!r}*{PROX_LAMDUH!r})
           - greatest(0, -v - {GD_STEP_S!r}*{PROX_LAMDUH!r}), 6) AS DOUBLE) AS beta1_prox,
  CAST(round(smloss, 3) AS DOUBLE) AS smloss,
  CAST(round({_SG_CASE[0]}, 3) AS DOUBLE) AS smg_c0,
  CAST(round({_SG_CASE[1]}, 3) AS DOUBLE) AS smg_c1,
  CAST(round({_SG_CASE[2]}, 3) AS DOUBLE) AS smg_c2,
  CAST(round(wloss, 3) AS DOUBLE) AS wloss,
  CAST(round({_WG_CASE}, 3) AS DOUBLE) AS wgrad,
  CAST(round(oloss, 3) AS DOUBLE) AS oloss,
  CAST(round({_OG_CASE}, 3) AS DOUBLE) AS ograd,
  CAST(round(pchi2, 3) AS DOUBLE) AS pchi2,
  CAST(round(dres, 3) AS DOUBLE) AS dres,
  CAST(round({_HG_CASE}, 3) AS DOUBLE) AS hvp,
  CAST(round(sloss, 3) AS DOUBLE) AS sloss,
  CAST(round({_SPG_CASE}, 3) AS DOUBLE) AS sgrad,
  CAST(round({_SPH_CASE}, 3) AS DOUBLE) AS shvp,
  CAST(round(mlgl0, 3) AS DOUBLE) AS mlgl0,
  CAST(round(loss1, 3) AS DOUBLE) AS mlgl1,
  CAST(round({_G_CASE}, 3) AS DOUBLE) AS mlgg0,
  CAST(round({_MG_CASE}, 3) AS DOUBLE) AS mlgg1,
  CAST(round(smlgl1, 3) AS DOUBLE) AS smlgl1,
  CAST(round({_SMG_CASE}, 3) AS DOUBLE) AS smlgg1
FROM bt, l, smagg, woagg, spagg, agg, mlg, smlg ORDER BY j"""


def _register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = ("lineitem",)
) -> None:
    """Register only the tables a query actually references (VERDICT r1 #1:
    loading all 10 tables made every kernel query die on `events`, a table
    none of them touch)."""
    from dask_glm_spark.sources.glm_source import load_table

    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _sql_runner(
    sql: str, tables: tuple[str, ...] = ("lineitem",)
) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_tables(spark, sf_dir, tables)
        return spark.sql(sql)

    return run


# ---------------------------------------------------------------------------
# Pipeline-operator oracles (text / dedup / similarity / events / TF).
# The engine side runs operators from dask_glm_spark.operators.*; the DuckDB
# side recomputes the same deterministic definitions in portable SQL.  All
# hashing is the shared 31-base polynomial hash so both engines agree bit-
# for-bit.
# ---------------------------------------------------------------------------
# Shared tokenizer definition across every DuckDB oracle (ADVICE r2 #5):
# regex whitespace split of the trimmed text — the same definition as the
# engine's tokens_expr (split(trim(lower(text)), '\s+')), so the gate can't
# diverge on a tab/newline/double-space that is not a real bug.
_DUCK_TOKENS = r"string_split_regex(trim(lower(text)), '\s+')"
_DUCK_TOKENS_CASED = r"string_split_regex(trim(text), '\s+')"


def _duck_polyhash(expr: str) -> str:
    """DuckDB SQL computing operators.text.polyhash_expr exactly."""
    # CAST to BIGINT: DuckDB infers INT32 for the lambda accumulator and
    # overflows at h*31 otherwise.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split({expr}, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h*31 + c) % 1000000007)"
    )


def _duck_bpe_count(tokens_list_sql: str) -> str:
    """DuckDB SQL re-deriving ``bpe.bpe_token_count_expr(text,
    FIXED_MERGES_EN)`` exactly: per word, wrap each char in chr(31)
    separators, apply the fixed merge table as the identical literal
    replace chain (one replace per merge = one greedy leftmost pass),
    then count separators/2; sum over the doc's words."""
    from dask_glm_spark.operators.bpe import FIXED_MERGES_EN

    S = "chr(31)"

    def lit(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    s = r"regexp_replace(replace(w, chr(31), ''), '(.)', chr(31) || '\1' || chr(31), 'g')"
    for left, right in FIXED_MERGES_EN:
        pat = f"{S} || {lit(left)} || {S} || {S} || {lit(right)} || {S}"
        rep = f"{S} || {lit(left + right)} || {S}"
        s = f"replace({s}, {pat}, {rep})"
    per = (
        f"CAST((length({s}) - length(replace({s}, chr(31), ''))) / 2 AS BIGINT)"
    )
    return (
        f"coalesce(list_sum(list_transform(list_filter({tokens_list_sql}, "
        f"x -> x <> ''), w -> {per})), 0)"
    )


def _duck_lang_scores() -> dict[str, str]:
    from dask_glm_spark.operators.text import MARKER_WORDS

    # identical delimiter normalization as text.WORD_DELIMS_RE: markers
    # adjacent to punctuation/newlines count in BOTH engines
    norm = r"regexp_replace(lower(text), '[\t\n\r.,;:!?]', ' ', 'g')"
    return {
        lang: "("
        + " + ".join(
            f"CASE WHEN contains(' '||{norm}||' ', ' {w} ') THEN 1 ELSE 0 END"
            for w in words
        )
        + ")"
        for lang, words in MARKER_WORDS.items()
    }


def _duck_langid_case() -> str:
    """Predicted-language CASE over the s_{lang} score aliases — the same
    deterministic argmax tie-break as operators.text.langid_expr."""
    from dask_glm_spark.operators.text import LANG_ORDER

    whens = []
    for i, lang in enumerate(LANG_ORDER[:-1]):
        conds = " AND ".join(
            f"s_{lang} >= s_{o}" for o in LANG_ORDER[i + 1 :]
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(whens) + f" ELSE '{LANG_ORDER[-1]}' END"


def _langid_oracle_sql() -> str:
    s = _duck_lang_scores()
    case = _duck_langid_case()
    scores = ", ".join(f"{sql} AS s_{lang}" for lang, sql in s.items())
    return f"""WITH scored AS (SELECT {scores} FROM documents),
pred AS (SELECT {case} AS lang_pred FROM scored)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY lang_pred ORDER BY lang_pred"""


def _duck_quality_expr() -> str:
    """Rounded quality score over `text` — operators.text.quality_score_expr."""
    from dask_glm_spark.operators.text import MARKER_WORDS

    s_en = _duck_lang_scores()["en"]
    n_en = float(len(MARKER_WORDS["en"]))  # engine divides by this, not a pinned 5
    return f"""round(
    0.4 * ({s_en} / {n_en})
    + 0.3 * least(len({_DUCK_TOKENS_CASED}) / 100.0, 1.0)
    + 0.3 * (CASE WHEN length(text) > 0
             THEN length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0 / length(text)
             ELSE 0.0 END),
  6)"""


def _quality_oracle_sql() -> str:
    return f"""SELECT doc_id,
  CAST({_duck_quality_expr()} AS DOUBLE) AS quality
FROM documents ORDER BY doc_id"""


def _minhash_oracle_sql(threshold: float = 0.5, relation: str = "documents") -> str:
    from dask_glm_spark.operators.dedup import (
        BANDS,
        PERM_A,
        PERM_B,
        ROWS_PER_BAND,
        SHINGLE_K,
    )

    k = SHINGLE_K
    toks = _DUCK_TOKENS
    sig_exprs = ", ".join(
        f"list_min(list_transform(sh_hashes, h -> (h*{a} + {b}) % 1000000007)) AS s{i}"
        for i, (a, b) in enumerate(zip(PERM_A, PERM_B))
    )
    band_keys = []
    for b in range(BANDS):
        parts = "||'-'||".join(
            f"CAST(s{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        band_keys.append(_duck_polyhash(f"'{b}-'||{parts}"))
    gram = "||' '||".join(f"T[i+{d}]" for d in range(k))
    return f"""WITH toks AS (
  SELECT doc_id, {toks} AS T FROM {relation}
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(T) >= {k}
      THEN list_distinct(list_transform(generate_series(1, len(T)-{k - 1}), i -> {gram}))
      ELSE [array_to_string(T, ' ')] END AS shingles
  FROM toks
),
hs AS (SELECT doc_id, shingles,
  list_transform(shingles, s -> {_duck_polyhash("s")}) AS sh_hashes FROM sh),
sigs AS (SELECT doc_id, {sig_exprs} FROM hs),
bands AS (SELECT doc_id, unnest([{", ".join(band_keys)}]) AS band_key FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
j AS (
  SELECT id_a, id_b,
    round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
      (len(sa.shingles) + len(sb.shingles)
       - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
  FROM cands
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, CAST(jaccard AS DOUBLE) AS jaccard FROM j
WHERE jaccard >= {threshold} ORDER BY id_a, id_b"""


def _simhash_oracle_sql() -> str:
    from dask_glm_spark.operators.dedup import SIMHASH_BITS

    bit_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {2**j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""WITH toks AS (
  SELECT doc_id, list_distinct({_DUCK_TOKENS}) AS T FROM documents
),
h AS (SELECT doc_id, list_transform(T, t -> {_duck_polyhash("t")}) AS hs FROM toks)
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM h ORDER BY doc_id"""


def _ngram_jaccard_oracle_sql(threshold: float = 0.5) -> str:
    """Blocked (per-source) exact shingle-Jaccard pairs — the same shingle
    definition the MinHash oracle uses, joined within the block column.
    Scoped to two source blocks: the operator is the *exact* quadratic-per-
    block baseline (the scale path is MinHash, q21), so the declared query
    demonstrates correctness on bounded blocks rather than timing an
    intentionally-quadratic scan of every block."""
    from dask_glm_spark.operators.dedup import SHINGLE_K

    k = SHINGLE_K
    gram = "||' '||".join(f"T[i+{d}]" for d in range(k))
    inter = "len(list_intersect(a.shingles, b.shingles))"
    return f"""WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS T FROM documents
  WHERE source IN ('src6', 'src7')
),
sh AS (
  SELECT doc_id, source,
    CASE WHEN len(T) >= {k}
      THEN list_distinct(list_transform(generate_series(1, len(T)-{k - 1}), i -> {gram}))
      ELSE [array_to_string(T, ' ')] END AS shingles
  FROM toks
),
p AS (
  SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
    round({inter} * 1.0 /
      (len(a.shingles) + len(b.shingles) - {inter}), 6) AS jaccard,
    round({inter} * 1.0 /
      least(len(a.shingles), len(b.shingles)), 6) AS containment
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT blk, id_a, id_b, CAST(jaccard AS DOUBLE) AS jaccard,
  CAST(containment AS DOUBLE) AS containment FROM p
WHERE jaccard >= {threshold} ORDER BY blk, id_a, id_b"""


def _simhash_pairs_oracle_sql(max_hamming: int = 3) -> str:
    """Banded SimHash near-dup pairs: replicates the engine's pigeonhole
    banding (max_hamming+1 bands) AND the hamming verify, so the candidate
    set and the final pairs are both independently recomputed."""
    from dask_glm_spark.operators.dedup import SIMHASH_BITS

    n_bands = max_hamming + 1
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    bit_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {2**j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    # doc_id < 2000: the synthetic corpus draws from a ~40-word vocabulary,
    # so 32-bit simhashes collide pathologically (5M verified pairs from 5k
    # docs at sf0.1 — 40% of ALL pairs are within hamming 3). The slice
    # keeps the full banding + verify pipeline under test while bounding
    # the degenerate quadratic output; real corpora don't look like this.
    return f"""WITH toks AS (
  SELECT doc_id, list_distinct({_DUCK_TOKENS}) AS T FROM documents WHERE doc_id < 2000
),
h AS (SELECT doc_id, list_transform(T, t -> {_duck_polyhash("t")}) AS hs FROM toks),
sh AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM h),
bands AS (
  SELECT doc_id, simhash, i.i AS band_idx, (simhash >> (i.i * {band_bits})) & {mask} AS band_val
  FROM sh, generate_series(0, {n_bands - 1}) i(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming} ORDER BY id_a, id_b"""


def _cc_ctes(threshold: float = 0.5, relation: str = "documents") -> str:
    """Shared recursive-CTE body computing connected components of the
    MinHash near-dup pair graph (q21's pairs): symmetric closure via a
    recursive reachability walk, component label = min reachable id —
    independently recomputed, structurally unrelated to the engine's
    alternating-star contraction (operators/graph.py)."""
    pairs_sql = _minhash_oracle_sql(threshold, relation)
    return f"""p AS (SELECT id_a, id_b FROM ({pairs_sql}) mp),
e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
walk(id, r) AS (
  SELECT u, u FROM e
  UNION
  SELECT w.id, e2.v FROM walk w JOIN e e2 ON e2.u = w.r
),
cc AS (SELECT id, MIN(r) AS comp FROM walk GROUP BY id)"""


def _components_oracle_sql(threshold: float = 0.5) -> str:
    return f"""WITH RECURSIVE
{_cc_ctes(threshold)}
SELECT CAST(id AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS component
FROM cc ORDER BY doc_id"""


def _survivors_oracle_sql(threshold: float = 0.5) -> str:
    return f"""WITH RECURSIVE
{_cc_ctes(threshold)}
SELECT d.doc_id, d.lang, d.source FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id != comp)
ORDER BY d.doc_id"""


def _duck_sample_bucket(
    salt: str, key_expr: str = "doc_id", n_buckets: int = 100
) -> str:
    """DuckDB SQL computing operators.sampling.hash_bucket_expr exactly:
    double polyhash (outer round over the inner hash's decimal rendering —
    see sampling.py for why one round is not enough), prefix salt, direct
    % n_buckets (non-null keys; the engine's null-sentinel branch is
    unreachable on the testdata)."""
    h1 = _duck_polyhash(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    return f"{_duck_polyhash(f'CAST(({h1}) AS VARCHAR)')} % {n_buckets}"


def _duck_uniform_unit(salt: str, key_expr: str = "doc_id") -> str:
    """DuckDB SQL computing operators.sampling.uniform_unit_expr exactly:
    salted polyhash, Knuth multiplicative mix, top 20 of 32 bits, +0.5
    half-bucket offset — all exact integer/dyadic-rational steps, so both
    engines hand the SAME double to the transcendentals downstream."""
    h1 = _duck_polyhash(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    return f"((((({h1}) * 2654435761) % 4294967296) >> 12) + 0.5) / 1048576.0"


def _vocab_topk_oracle_sql(depth: int = 4, width: int = 256) -> str:
    """Top-100 vocabulary + count-min estimates, fully re-derived: the
    counter grid is the SAME depth×width cell sums (portable double
    polyhash per row salt ``cms{i}``) built from the per-token counts
    (cell sums are additive, so aggregating tf first is exact), and each
    top token's estimate is the min over depth correlated lookups —
    deterministic, so it hash-matches the engine's sketch exactly."""
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS i, ({_duck_sample_bucket(f'cms{i}', 'tok', width)})"
        f" AS bucket, tf FROM cnt"
        for i in range(depth)
    )
    # table alias must not shadow the polyhash lambda's parameters (h, c)
    lookups = ",\n    ".join(
        "coalesce((SELECT ctr_.cnt FROM ctr ctr_ WHERE ctr_.i = "
        f"{i} AND ctr_.bucket = ({_duck_sample_bucket(f'cms{i}', 't.tok', width)})), 0)"
        for i in range(depth)
    )
    return f"""WITH tk AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents)
  WHERE tok <> ''
),
cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM tk GROUP BY tok
),
ctr AS (
  SELECT i, bucket, CAST(sum(tf) AS BIGINT) AS cnt
  FROM ({unions})
  GROUP BY i, bucket
),
top AS (SELECT * FROM cnt ORDER BY tf DESC, tok ASC LIMIT 100)
SELECT t.tok AS token, t.tf, t.doc_freq,
  CAST(least(
    {lookups}
  ) AS BIGINT) AS cms_est
FROM top t"""


def _curation_oracle_sql(q_threshold: float = 0.5, mh_threshold: float = 0.5) -> str:
    """End-to-end curation pipeline, fully recomputed: language-ID filter +
    quality filter -> MinHash near-dup pairs on the SURVIVING subset ->
    connected components -> keep component roots -> per-source stats. Every
    stage reuses the same shared oracle definitions as its standalone query
    (q17/q18/q21/q34), composed over a `cur` CTE."""
    scores = ", ".join(
        f"{sql} AS s_{lang}" for lang, sql in _duck_lang_scores().items()
    )
    return f"""WITH RECURSIVE
cur AS (
  SELECT doc_id, text, source, quality FROM (
    SELECT *, {_duck_langid_case()} AS lang_pred, {_duck_quality_expr()} AS quality
    FROM (SELECT *, {scores} FROM documents) c0
  ) c1 WHERE lang_pred = 'en' AND quality >= {q_threshold}
),
{_cc_ctes(mh_threshold, "cur")}
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len({_DUCK_TOKENS_CASED})) AS BIGINT) AS sum_tokens,
  CAST(round(avg(quality), 6) AS DOUBLE) AS avg_quality
FROM cur WHERE doc_id NOT IN (SELECT id FROM cc WHERE id != comp)
GROUP BY source ORDER BY source"""


def _pack_oracle_sql(budget: int = 256, n_buckets: int = 8) -> str:
    """Replays BOTH packing disciplines (operators/packing.py): chunk_id
    via the same window arithmetic, seq_id by advancing the greedy fold one
    row per bucket per recursion step — an independent sequential replay of
    the engine's applyInPandas fold."""
    bucket = _duck_sample_bucket("pack", n_buckets=n_buckets)
    return f"""WITH RECURSIVE
d0 AS (
  SELECT doc_id, len({_DUCK_TOKENS_CASED}) AS n_tokens, {bucket} AS bucket
  FROM documents
),
d AS (
  SELECT *,
    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn,
    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
  FROM d0
),
f(bucket, rn, doc_id, off, seq_id, fill) AS (
  SELECT bucket, rn, doc_id, off, 0, n_tokens FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.off,
    CASE WHEN f.fill + d.n_tokens <= {budget} THEN f.seq_id ELSE f.seq_id + 1 END,
    CASE WHEN f.fill + d.n_tokens <= {budget} THEN f.fill + d.n_tokens ELSE d.n_tokens END
  FROM f JOIN d ON d.bucket = f.bucket AND d.rn = f.rn + 1
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
  CAST(floor(off * 1.0 / {budget}) AS BIGINT) AS chunk_id,
  CAST(seq_id AS BIGINT) AS seq_id
FROM f ORDER BY doc_id"""


# gap-based sessionization oracle: same lag/cumsum definition as
# streaming/sessions.sessionize_batch; timestamps exported as epoch micros
# (BIGINT) so both engines compare integers, never tz-rendered timestamps.
_SESSIONS_SQL = """WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS sid FROM o
)
SELECT user_id,
  CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
  CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(round(sum(value), 6) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, start_us"""


PIPELINE_SQL: dict[str, str] = {
    # Merged per-doc text stats (round 6): whitespace token count/length,
    # the BPE-ish regex pre-tokenization count (letter runs / digit runs /
    # single punctuation — formerly q33), and the quality score (formerly
    # q18) are all narrow per-doc maps over the same scan, so one query
    # hash-gates all four columns. Merged to keep the declared-query count
    # at 50 — the driver records at most 50 correctness rows.
    # round 7: + mean_logp, the unigram-LM quality score — same model the
    # engine builds (wordcount over ALL tokens, top-50k vocab by (count
    # desc, token asc), oov = ln(0.5/total)), re-derived in SQL
    "q16_token_stats": f"""WITH tok AS (
  SELECT doc_id, t AS tok
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents)
  WHERE t <> ''
),
cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cnt),
vocab AS (
  SELECT tok, ln(c / (SELECT total FROM tot)) AS logp
  FROM cnt ORDER BY c DESC, tok LIMIT 50000
),
lm AS (
  SELECT t.doc_id,
    CAST(round(avg(coalesce(v.logp, ln(0.5 / (SELECT total FROM tot)))), 6) AS DOUBLE) AS mean_logp
  FROM tok t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id
),
-- round 7: bigram stupid-backoff scorer (text.bigram_logprob_scores):
-- adjacent pairs of the empty-filtered token sequence, top-200k bigram
-- conditionals over exact history counts, 0.4x unigram backoff, OOV floor
tarr AS (SELECT doc_id, list_filter({_DUCK_TOKENS}, x -> x <> '') AS T FROM documents),
tokp AS (
  SELECT doc_id, u.p AS pos, u.tk AS tok FROM (
    SELECT doc_id, unnest([{{'p': i, 'tk': T[i]}} for i in generate_series(1, len(T))]) AS u
    FROM tarr)
),
pairs AS (
  SELECT doc_id, prev, cur FROM (
    SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           tok AS cur
    FROM tokp
  ) WHERE prev IS NOT NULL
),
pc AS (SELECT prev, cur, count(*) AS c FROM pairs GROUP BY prev, cur),
btot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM pc),
hist AS (SELECT prev, sum(c) AS ch FROM pc GROUP BY prev),
bmodel AS (
  SELECT q.prev, q.cur, ln(q.c / h.ch) AS blogp
  FROM (SELECT * FROM pc ORDER BY c DESC, prev, cur LIMIT 200000) q
  JOIN hist h USING (prev)
),
uni2 AS (
  SELECT cur, ln(c / (SELECT total FROM btot)) + ln(0.4) AS ulogp
  FROM (SELECT cur, count(*) AS c FROM pairs GROUP BY cur
        ORDER BY c DESC, cur LIMIT 50000)
),
lm2 AS (
  SELECT p.doc_id,
    CAST(round(avg(coalesce(b.blogp, u.ulogp,
      ln(0.4 * 0.5 / (SELECT total FROM btot)))), 6) AS DOUBLE) AS mean_logp2
  FROM pairs p LEFT JOIN bmodel b USING (prev, cur)
  LEFT JOIN uni2 u USING (cur) GROUP BY p.doc_id
)
SELECT d.doc_id,
  CAST(len({_DUCK_TOKENS_CASED}) AS BIGINT) AS n_tokens,
  CAST(round(length(regexp_replace(text, '\\s', '', 'g')) * 1.0
    / len({_DUCK_TOKENS_CASED}), 4) AS DOUBLE) AS avg_token_len,
  CAST(len(regexp_extract_all(lower(text),
    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_regex_tokens,
  CAST({_duck_quality_expr()} AS DOUBLE) AS quality,
  CAST({_duck_bpe_count(_DUCK_TOKENS)} AS BIGINT) AS n_bpe24,
  lm.mean_logp AS mean_logp,
  lm2.mean_logp2 AS mean_logp2
FROM documents d LEFT JOIN lm ON lm.doc_id = d.doc_id
LEFT JOIN lm2 ON lm2.doc_id = d.doc_id ORDER BY d.doc_id""",
    "q17_langid": _langid_oracle_sql(),
    # round 9: + dsir — the DSIR hashed-unigram importance log-weight
    # (target = lang='en', source = all docs, nf=512, add-1 smoothing),
    # fully re-derived: both count aggregates, the log-ratio vector, and
    # the per-doc token-bucket sum
    "q19_fingerprint": f"""WITH toks AS (
  SELECT doc_id, lang,
    list_filter({_DUCK_TOKENS}, t -> length(t) > 0) AS T
  FROM documents
),
tb AS (
  SELECT doc_id, lang,
    unnest(list_transform(T, t -> {_duck_polyhash("t")} % 512)) AS b
  FROM toks
),
tgt AS (SELECT b, count(*) AS c FROM tb WHERE lang = 'en' GROUP BY b),
src AS (SELECT b, count(*) AS c FROM tb GROUP BY b),
tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM tgt) AS tt,
               (SELECT coalesce(sum(c), 0) FROM src) AS st),
w AS (
  SELECT g.b,
    ln((coalesce(tgt.c, 0) + 1.0) / (tot.tt + 512.0))
      - ln((coalesce(src.c, 0) + 1.0) / (tot.st + 512.0)) AS w
  FROM generate_series(0, 511) g(b)
  LEFT JOIN tgt ON tgt.b = g.b LEFT JOIN src ON src.b = g.b, tot
),
ds AS (SELECT tb.doc_id, sum(w.w) AS s FROM tb JOIN w ON w.b = tb.b
       GROUP BY tb.doc_id)
SELECT d.doc_id,
  CAST({_duck_polyhash("lower(text)")} AS BIGINT) AS fp,
  CAST(round(coalesce(ds.s, 0.0), 6) AS DOUBLE) AS dsir
FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id
ORDER BY d.doc_id""",
    # round 7: + inc_b0/inc_b1 — exact_dedup_incremental replayed over a
    # doc_id-parity two-batch split (first batch wins per fingerprint);
    # survivor counts re-derived as count(distinct fp) per batch with
    # batch 1 excluding batch 0's fingerprints
    "q20_exact_dedup": f"""WITH ct AS (
  SELECT doc_id,
    array_to_string(string_split_regex(lower(text), '\\s+')[1:2], ' ') AS ctext
  FROM documents
),
fps AS (
  SELECT doc_id % 2 AS b, {_duck_polyhash("lower(ctext)")} AS fp FROM ct
),
i0 AS (SELECT DISTINCT fp FROM fps WHERE b = 0),
i1 AS (SELECT DISTINCT fp FROM fps WHERE b = 1
       AND fp NOT IN (SELECT fp FROM i0))
SELECT
  CAST(count(*) AS BIGINT) AS dup_groups,
  CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_rows,
  CAST((SELECT count(*) FROM i0) AS BIGINT) AS inc_b0,
  CAST((SELECT count(*) FROM i1) AS BIGINT) AS inc_b1
FROM (SELECT text, count(*) AS c FROM documents GROUP BY text HAVING count(*) > 1)""",
    "q21_minhash_dedup": _minhash_oracle_sql(0.5),
    "q22_simhash": _simhash_oracle_sql(),
    "q23_embedding_neardup": """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  CAST(round(list_cosine_similarity(a.embedding::DOUBLE[],
    b.embedding::DOUBLE[]), 6) AS DOUBLE) AS cosine
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
ORDER BY id_a, id_b""",
    "q24_cosine_topk": """WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
  FROM q, c WHERE neighbor_id != query_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, CAST(round(cos, 5) AS DOUBLE) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q25_events_hourly": """SELECT
  CAST(floor(epoch_ns(ts) / 3600e9) AS BIGINT) AS hour_bucket,
  event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(round(sum(value), 3) AS DOUBLE) AS sum_value
FROM events GROUP BY hour_bucket, event_type ORDER BY hour_bucket, event_type""",
    "q26_hashing_tf": f"""SELECT doc_id,
  CAST({_duck_polyhash("tok")} % 64 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS tf
FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents)
WHERE tok <> '' -- engine filters empty tokens (length > 0)
GROUP BY 1, 2 ORDER BY 1, 2""",
    # byte histogram of the UTF-8 payload (corpus is printable ASCII, so
    # bytes == code points and the SQL side can use ascii()); this is the
    # oracle over the engine's mapInPandas multimodal feature path
    "q27_multimodal_bytehist": """SELECT doc_id,
  CAST(ascii(c) % 16 AS BIGINT) AS bin,
  CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
GROUP BY 1, 2 ORDER BY 1, 2""",
    # whole-row survivor semantics (VERDICT r2 #2): min-doc_id row per group
    "q28_exact_dedup_survivors": """SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents
) t WHERE rn = 1 ORDER BY doc_id""",
    "q29_sessions": _SESSIONS_SQL,
    "q30_simhash_pairs": _simhash_pairs_oracle_sql(3),
    # full dense TF-IDF grid (doc x bucket, zeros included) so the oracle
    # re-derives N, df(b), and the ln scaling independently
    "q31_tfidf": f"""WITH tf AS (
  SELECT doc_id, {_duck_polyhash("tok")} % 64 AS bucket, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents)
  WHERE tok <> '' -- engine filters empty tokens
  GROUP BY 1, 2
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
dfreq AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS dfb FROM tf GROUP BY bucket),
grid AS (
  SELECT g.doc_id, b.i AS bucket FROM (SELECT DISTINCT doc_id FROM tf) g,
  generate_series(0, 63) b(i)
)
SELECT grid.doc_id, CAST(grid.bucket AS BIGINT) AS bucket,
  CAST(round(coalesce(tf.tf, 0.0)
    * ln((n.n_docs + 1.0) / (coalesce(dfreq.dfb, 0.0) + 1.0)), 6) AS DOUBLE) AS tfidf
FROM grid
CROSS JOIN n
LEFT JOIN tf ON tf.doc_id = grid.doc_id AND tf.bucket = grid.bucket
LEFT JOIN dfreq ON dfreq.bucket = grid.bucket
ORDER BY 1, 2""",
    "q32_ngram_jaccard": _ngram_jaccard_oracle_sql(0.5),
    # pairs -> clusters: connected components of the MinHash near-dup graph
    # (near-duplication is not transitive; the closure is what "keep one per
    # cluster" actually needs). Oracle = recursive reachability walk.
    "q34_components": _components_oracle_sql(0.5),
    "q35_neardup_survivors": _survivors_oracle_sql(0.5),
    # deterministic top-k vocabulary with total ordering (tf desc, token
    # asc); round 7: + cms_est — count-min point estimates from the
    # depth-4 × width-256 sketch, exact counter-grid re-derivation
    "q36_vocab_topk": _vocab_topk_oracle_sql(4, 256),
    # reproducible stratified mixture: per-lang keep rates keyed on the
    # shared double-polyhash bucket of doc_id (engine: operators/sampling)
    # round 7: + capped_docs — domain_caps(source, cap=10) survivors per
    # lang; keep rule re-derived exactly (portable polyhash of the doc id
    # string, keep when hash % n_source < 10 — the round-8 unbiased rule:
    # expected exactly cap survivors at every n, n<=cap untouched)
    "q37_stratified_sample": f"""WITH k AS (
  SELECT lang, text FROM documents
  WHERE {_duck_sample_bucket("mix")} <
    CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 40 WHEN 'fr' THEN 40 ELSE 20 END
),
cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
capped AS (
  SELECT d.lang FROM documents d JOIN cnt c ON d.source = c.source
  WHERE ({_duck_polyhash("CAST(d.doc_id AS VARCHAR)")}) % c.n < 10
),
cl AS (SELECT lang, count(*) AS capped_docs FROM capped GROUP BY lang),
-- round 7: weighted_sample_k(25 per lang, weight = token count) — the
-- Gumbel-form Efraimidis–Spirakis priority re-derived end to end
wsk AS (
  SELECT lang, doc_id, len({_DUCK_TOKENS_CASED}) AS ntok,
    round(ln(-ln({_duck_uniform_unit("wmix", "doc_id")}))
          - ln(len({_DUCK_TOKENS_CASED}) * 1.0), 9) AS sk
  FROM documents
  WHERE len({_DUCK_TOKENS_CASED}) > 0
),
wsel AS (
  SELECT lang, ntok FROM (
    SELECT lang, ntok,
      row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rn
    FROM wsk) q WHERE rn <= 25
),
wl AS (SELECT lang, CAST(count(*) AS BIGINT) AS wsample_docs,
       CAST(sum(ntok) AS BIGINT) AS wsample_tokens FROM wsel GROUP BY lang),
-- round 7: quantile-band mixture at explicit thresholds 40/70 tokens:
-- band rate (b0=0 / b1=50 / b2=100) gates the shared hash bucket
qs AS (
  SELECT lang FROM documents
  WHERE {_duck_sample_bucket("qmix")} <
    CASE WHEN len({_DUCK_TOKENS_CASED}) * 1.0 < 40.0 THEN 0
         WHEN len({_DUCK_TOKENS_CASED}) * 1.0 < 70.0 THEN 50
         ELSE 100 END
),
ql AS (SELECT lang, CAST(count(*) AS BIGINT) AS qband_docs FROM qs GROUP BY lang)
SELECT k2.lang, k2.n_docs, k2.sum_tokens,
  CAST(coalesce(cl.capped_docs, 0) AS BIGINT) AS capped_docs,
  CAST(coalesce(wl.wsample_docs, 0) AS BIGINT) AS wsample_docs,
  CAST(coalesce(wl.wsample_tokens, 0) AS BIGINT) AS wsample_tokens,
  CAST(coalesce(ql.qband_docs, 0) AS BIGINT) AS qband_docs
FROM (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len({_DUCK_TOKENS_CASED})) AS BIGINT) AS sum_tokens
  FROM k GROUP BY lang
) k2 LEFT JOIN cl ON cl.lang = k2.lang
     LEFT JOIN wl ON wl.lang = k2.lang
     LEFT JOIN ql ON ql.lang = k2.lang ORDER BY k2.lang""",
    # token-budget sequence packing, both disciplines (chunked + greedy)
    "q38_sequence_packing": _pack_oracle_sql(256, 8),
    # composed curation pipeline: filter -> dedup(closure) -> stats
    "q39_curation_pipeline": _curation_oracle_sql(0.5, 0.5),
    # per-source token-count distribution. DISCRETE quantiles (actual order
    # statistics): Spark percentile_disc == DuckDB quantile_disc exactly,
    # while the interpolating variants (percentile/quantile_cont) disagree
    # at ulp-level fraction handling (measured: p99 97.56 vs 97.5) — an
    # engine-portability footgun, not a bug in either engine.
    "q40_token_percentiles": f"""SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
  CAST(round(quantile_disc(n_tokens, 0.25), 4) AS DOUBLE) AS p25,
  CAST(round(quantile_disc(n_tokens, 0.5), 4) AS DOUBLE) AS p50,
  CAST(round(quantile_disc(n_tokens, 0.9), 4) AS DOUBLE) AS p90,
  CAST(round(quantile_disc(n_tokens, 0.99), 4) AS DOUBLE) AS p99,
  CAST(round(quantile_disc(n_bpe, 0.5), 4) AS DOUBLE) AS bpe_p50,
  CAST(max(n_bpe) AS BIGINT) AS bpe_max_tokens
FROM (SELECT source, len({_DUCK_TOKENS_CASED}) * 1.0 AS n_tokens,
        CAST({_duck_bpe_count(_DUCK_TOKENS)} AS DOUBLE) AS n_bpe
      FROM documents) t
GROUP BY source ORDER BY source""",
    # Gopher-style repetition measures: line stats (trivial on the single-
    # line synthetic corpus but part of the published rule set), top-bigram
    # fraction, duplicate-5-gram fraction. DuckDB n-grams via list
    # comprehension over INCLUSIVE slices: t[i:i+1] is a bigram.
    "q41_repetition": f"""WITH lines AS (
  SELECT doc_id, trim(l) AS line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents) q
  WHERE length(trim(l)) > 0
),
pl AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2),
ls AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
  round(1.0 - count(*) * 1.0 / sum(cnt), 6) AS dup_line_frac,
  round(sum(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END) * 1.0
        / sum(cnt * length(line)), 6) AS dup_line_char_frac
  FROM pl GROUP BY doc_id),
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
bg AS (SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
       for i in generate_series(1, len(t)-1)]) AS g FROM toks),
pbg AS (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY 1, 2),
bs AS (SELECT doc_id, round(max(cnt) * 1.0 / sum(cnt), 6) AS top_bigram_frac
       FROM pbg GROUP BY doc_id),
ng AS (SELECT doc_id, unnest([array_to_string(t[i:i+4], ' ')
       for i in generate_series(1, len(t)-4)]) AS g FROM toks),
ns AS (SELECT doc_id, round(1.0 - count(DISTINCT g) * 1.0 / count(*), 6)
       AS dup_ngram_frac FROM ng GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
  CAST(coalesce(dup_line_frac, 0.0) AS DOUBLE) AS dup_line_frac,
  CAST(coalesce(dup_line_char_frac, 0.0) AS DOUBLE) AS dup_line_char_frac,
  CAST(coalesce(top_bigram_frac, 0.0) AS DOUBLE) AS top_bigram_frac,
  CAST(coalesce(dup_ngram_frac, 0.0) AS DOUBLE) AS dup_ngram_frac
FROM (SELECT doc_id FROM documents) d
LEFT JOIN ls ON d.doc_id = ls.doc_id
LEFT JOIN bs ON d.doc_id = bs.doc_id
LEFT JOIN ns ON d.doc_id = ns.doc_id
ORDER BY d.doc_id""",
    # C4-style PII/URL scrubbing. The corpus contains no emails/URLs, so
    # both engines append the SAME deterministic synthetic tail (built from
    # doc_id) and the oracle checks the full three-regex mask chain on it.
    # Regex subset common to Java and RE2 dialects: no backrefs/lookaround.
    # round 7: + par_dedup_text — paragraphs synthesized by replacing the
    # token 'merge' with '|'; each paragraph survives only at its global
    # first occurrence (smallest (doc_id, pos)), docs reassembled in order
    "q42_scrub": r"""WITH pl AS (
  SELECT doc_id,
    string_split(replace(text, 'merge', '|'), '|') AS pars
  FROM documents
),
pp AS (
  SELECT doc_id, u.pos AS pos, u.par AS par FROM (
    SELECT doc_id,
      unnest([{'pos': i - 1, 'par': pars[i]}
              for i in generate_series(1, len(pars))]) AS u
    FROM pl
  )
),
rk AS (
  SELECT doc_id, pos, par,
    row_number() OVER (PARTITION BY par ORDER BY doc_id, pos) AS r
  FROM pp
),
reb AS (
  SELECT doc_id, string_agg(par, '|' ORDER BY pos) AS par_dedup_text
  FROM rk WHERE r = 1 GROUP BY doc_id
),
wt AS (
  SELECT doc_id,
    list_filter(
      string_split_regex(trim('shared span block one two three four five '
                              || text), '\s+'),
      t -> t <> '') AS T
  FROM documents
),
wins AS (
  SELECT doc_id, u.st AS st, u.wtxt AS wtxt FROM (
    SELECT doc_id,
      unnest([{'st': (i - 1) * 8,
               'wtxt': array_to_string(T[(i - 1) * 8 + 1:(i - 1) * 8 + 8], ' ')}
              for i in generate_series(1, (len(T) - 8) // 8 + 1)]) AS u
    FROM wt WHERE len(T) >= 8
  )
),
wrk AS (
  SELECT doc_id, st,
    row_number() OVER (PARTITION BY wtxt ORDER BY doc_id, st) AS r
  FROM wins
),
wbad AS (
  SELECT doc_id, unnest(generate_series(st, st + 7)) AS p
  FROM wrk WHERE r > 1
),
wpos AS (
  SELECT doc_id, u.p AS p, u.tok AS tok FROM (
    SELECT doc_id,
      unnest([{'p': i - 1, 'tok': T[i]} for i in generate_series(1, len(T))]) AS u
    FROM wt
  )
),
wreb AS (
  SELECT wpos.doc_id, string_agg(wpos.tok, ' ' ORDER BY wpos.p) AS wspan_text
  FROM wpos LEFT JOIN wbad
    ON wbad.doc_id = wpos.doc_id AND wbad.p = wpos.p
  WHERE wbad.p IS NULL
  GROUP BY wpos.doc_id
),
-- round 8: strip_boilerplate_lines over the same '|' paragraphs —
-- trimmed-line portable polyhash, document-frequency >= 3 threshold,
-- every occurrence of a common line dropped, order-preserving rebuild
bcommon AS (
  SELECT __PH__ AS fp
  FROM pp WHERE length(trim(par)) >= 1
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
),
breb AS (
  SELECT doc_id, string_agg(par, '|' ORDER BY pos) AS bp_text
  FROM pp
  WHERE NOT (length(trim(par)) >= 1
             AND __PH__ IN (SELECT fp FROM bcommon))
  GROUP BY doc_id
)
SELECT d.doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact user' || CAST(d.doc_id AS VARCHAR)
             || '@mail.example.com via https://ex.example/'
             || CAST(d.doc_id AS VARCHAR) || ' ref '
             || CAST((d.doc_id % 1000003) * (d.doc_id % 1000003) + 1234567 AS VARCHAR),
        '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      '(?i)https?://[^\s]+', '<URL>', 'g'),
    '[0-9]{7,}', '<NUM>', 'g') AS scrubbed,
  coalesce(reb.par_dedup_text, '') AS par_dedup_text,
  coalesce(wreb.wspan_text, '') AS wspan_text,
  coalesce(breb.bp_text, '') AS bp_text
FROM documents d
LEFT JOIN reb ON reb.doc_id = d.doc_id
LEFT JOIN wreb ON wreb.doc_id = d.doc_id
LEFT JOIN breb ON breb.doc_id = d.doc_id
ORDER BY d.doc_id""".replace("__PH__", _duck_polyhash("trim(par)")),
    # Benchmark decontamination: docs sharing any word 5-gram with the
    # benchmark slice (doc_id % 31 = 0) are contaminated.
    "q43_decontam": f"""WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
g AS (SELECT doc_id, unnest([array_to_string(t[i:i+4], ' ')
      for i in generate_series(1, len(t)-4)]) AS g FROM toks),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 31 = 0),
-- round 7: graduated overlap over DISTINCT per-doc grams
cs AS (
  SELECT doc_id,
    CAST(count(DISTINCT g) AS BIGINT) AS n_grams,
    CAST(count(DISTINCT CASE WHEN g IN (SELECT g FROM bench) THEN g END)
         AS BIGINT) AS n_hit
  FROM g WHERE doc_id % 31 <> 0 GROUP BY doc_id
)
SELECT doc_id, n_grams, n_hit,
  round(n_hit * 1.0 / n_grams, 6) AS overlap_frac
FROM cs WHERE n_hit > 0 ORDER BY doc_id""",
    # Greedy per-source token-budget selection: keep rows (doc_id order)
    # while the source's running token total BEFORE the row is < budget.
    "q44_token_budget": f"""WITH t AS (
  SELECT doc_id, source, len({_DUCK_TOKENS}) AS n_tok FROM documents
),
w AS (SELECT doc_id, source,
  coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior FROM t)
SELECT doc_id, source FROM w WHERE prior < 3000 ORDER BY doc_id""",
}


# Waveform stats over the deterministic text payloads: both engines read
# consecutive byte PAIRS as little-endian int16 samples (low + 256*high;
# the corpus is printable ASCII, so the high byte is < 128 and the
# sign-wrap branch is never taken — which is also why zero_crossings is
# structurally 0 here and checked as such). A trailing odd byte is a torn
# sample, ignored by both sides.
PIPELINE_SQL["q47_waveform"] = """WITH s AS (
  SELECT doc_id,
    [ascii(text[2*i-1]) + 256 * ascii(text[2*i])
     for i in generate_series(1, length(text) // 2)] AS smp
  FROM documents
)
SELECT doc_id,
  CAST(len(smp) AS BIGINT) AS n_samples,
  -- coalesce: zero-sample payloads report 0.0 like the engine, not NULL
  CAST(round(coalesce(list_avg(smp), 0.0), 4) AS DOUBLE) AS mean,
  CAST(round(coalesce(sqrt(list_avg(
    list_transform(smp, x -> x * x * 1.0))), 0.0), 4) AS DOUBLE) AS rms,
  CAST(0 AS BIGINT) AS zero_crossings
FROM s ORDER BY doc_id"""


# Sketch accuracy contract: the engine emits the EXACT distinct-token
# count plus booleans asserting its HLL and theta sketch estimates land
# within 5%; the oracle emits the exact count and TRUE — so the hash
# matches iff the sketches actually meet their documented bound on the
# real corpus (estimates themselves can't cross-engine hash-match).
PIPELINE_SQL["q53_vocab_sketch"] = f"""SELECT
  CAST(count(DISTINCT tok) AS BIGINT) AS n_exact,
  true AS hll_ok,
  true AS theta_ok
FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
WHERE tok <> ''"""


# Range (interval containment) join: per session of q29's definition, the
# number of error events inside its [start, end] span. The engine runs
# the chunked range join (operators/joins.py:range_join — equi-join on
# time chunks + residual BETWEEN, no theta join); DuckDB re-derives the
# sessions and joins with a plain BETWEEN predicate.
PIPELINE_SQL["q52_range_join"] = """WITH o AS (
  SELECT user_id, ts,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT *, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS sid FROM o
),
sess AS (
  SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
  FROM s GROUP BY user_id, sid
),
err AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'error')
SELECT sess.user_id, CAST(sess.start_us AS BIGINT) AS start_us,
  CAST(count(*) AS BIGINT) AS n_errors
FROM sess JOIN err ON err.user_id = sess.user_id
  AND err.t BETWEEN sess.start_us AND sess.end_us
GROUP BY 1, 2 ORDER BY 1, 2"""


# As-of join: for every click event, the user's most recent error event
# at-or-before it (backward, left semantics; unmatched -> -1 sentinels so
# the hash compare never sees NULL-vs-NaN drift). The engine runs the
# union + carry-forward window (operators/joins.py:asof_join); DuckDB
# re-derives with its native ASOF LEFT JOIN.
PIPELINE_SQL["q51_asof_join"] = """SELECT l.event_id,
  CAST(coalesce(r.event_id, -1) AS BIGINT) AS asof_event_id,
  CAST(round(coalesce(r.value, -1.0), 2) AS DOUBLE) AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (
  -- one row per (user, ts): DuckDB ASOF has no documented tie-break, so
  -- the right side is pre-deduped deterministically on BOTH engines
  SELECT user_id, ts, max(event_id) AS event_id,
         arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
) r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id"""


# Raster resize over the deterministic text payloads (q47's codec-free
# trick for images): payload bytes form a row-major gray8 raster 16 px
# wide, h = len//16 rows (torn partial row ignored; docs shorter than one
# row are dropped). Target pixel (i,j) of the 4x4 resize = mean of source
# pixels with floor(r*4/h)==i, floor(c*4/16)==j; buckets with no source
# pixel (h < 4 upscales) are 0 — both sides build the full 16-cell grid.
PIPELINE_SQL["q50_image_resize"] = """WITH px AS (
  SELECT doc_id, length(text) // 16 AS h,
    unnest([ascii(text[i]) for i in generate_series(1, (length(text) // 16) * 16)]) AS v,
    unnest(generate_series(0, (length(text) // 16) * 16 - 1)) AS idx
  FROM documents WHERE length(text) >= 16
),
m AS (
  SELECT doc_id,
    (((idx // 16) * 4) // h) * 4 + ((idx % 16) * 4) // 16 AS pos,
    avg(v) AS mv
  FROM px GROUP BY 1, 2
),
d AS (SELECT DISTINCT doc_id FROM px),
grid AS (SELECT d.doc_id, g.i AS pos FROM d, generate_series(0, 15) g(i))
SELECT grid.doc_id, CAST(grid.pos AS BIGINT) AS pos,
  CAST(round(coalesce(m.mv, 0.0), 6) AS DOUBLE) AS value
FROM grid LEFT JOIN m ON m.doc_id = grid.doc_id AND m.pos = grid.pos
ORDER BY 1, 2"""


def _lsh_buckets_oracle_sql() -> str:
    """Sign-pattern bucket histogram with the engine's seeded hyperplanes
    embedded as literals — oracle-checks the ANN bucketing math (the
    assignment step every LSH path rides on). repr() floats round-trip
    exactly, so both engines fold the identical doubles."""
    from dask_glm_spark.operators.similarity import DEFAULT_PLANES, _hyperplanes

    planes = _hyperplanes(64, DEFAULT_PLANES)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(repr(float(x)) for x in row)
        + f"]) >= 0 THEN {2**i} ELSE 0 END)"
        for i, row in enumerate(planes)
    )
    return f"""SELECT bucket, CAST(count(*) AS BIGINT) AS n,
  TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok,
  TRUE AS hard_negative_recall_ok, TRUE AS pq_recall_ok,
  TRUE AS sq_recall_ok
FROM (
  SELECT {bits} AS bucket FROM embeddings
) t GROUP BY bucket ORDER BY bucket"""


PIPELINE_SQL["q45_lsh_buckets"] = _lsh_buckets_oracle_sql()

# q46 accuracy contract (VERDICT r5 #2, the q53 pattern): the Lloyd
# fixpoint cannot run in DuckDB, so the oracle re-derives what CAN be
# checked exactly — the histogram must account for every embedding row —
# and the engine side computes the numpy-Lloyd parity boolean from the
# same deterministic init (clustering.lloyd_np, pinned bit-close in
# tests/test_clustering.py). hash_match now fails if the distributed
# rounds drift from the reference math or drop/duplicate rows.
PIPELINE_SQL["q46_kmeans_sizes"] = """SELECT CAST(8 AS BIGINT) AS k,
  CAST(count(*) AS BIGINT) AS n_total,
  TRUE AS sizes_sum_ok,
  TRUE AS matches_numpy_lloyd
FROM embeddings"""


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table with the parallelism floor applied: these wrappers
    run dense per-row regex/hash expressions over every row (no filters to
    push down), and a single-row-group scan would serialize that onto one
    core (plans/layout.py; no-op at scale)."""
    from dask_glm_spark.plans.layout import ensure_min_parallelism
    from dask_glm_spark.sources.glm_source import load_table

    return ensure_min_parallelism(load_table(spark, sf_dir, "documents"))


def _pq_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text stats: whitespace tokens, regex (BPE-ish) tokens
    (formerly q33), quality score (formerly q18), and the unigram-LM
    mean log-probability (CCNet-style model-based quality,
    ``text.unigram_logprob_scores`` — folded in round 7 so the newest
    scorer sits under the hash gate within the 50-key budget, VERDICT r6
    gap #2). The LM columns join back by doc_id (one corpus wordcount +
    one broadcast token join behind the scenes)."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import text as T

    from dask_glm_spark.operators.bpe import FIXED_MERGES_EN, bpe_token_count_expr

    docs = _docs_spread(spark, sf_dir)
    n_tok = T.token_count_expr("text")
    stripped = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    stats = docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(stripped.cast("double") / n_tok.cast("double"), 4)
        .cast("double")
        .alias("avg_token_len"),
        T.regex_token_count_expr("text").cast("long").alias("n_regex_tokens"),
        F.round(T.quality_score_expr("text"), 6).cast("double").alias("quality"),
        # round 8: BPE subword count under the FIXED merge table — the
        # pure-Column replace-chain path (operators/bpe.py); the trained
        # path is pytest-covered (trained merges are data-dependent, so
        # the static oracle gates the fixed table at every SF)
        bpe_token_count_expr("text", FIXED_MERGES_EN)
        .cast("long")
        .alias("n_bpe24"),
    )
    # round 8 (VERDICT r7 #2): ONE tokenized projection feeds BOTH LM
    # scorers — tokenization is the expensive regex over the full text,
    # and the two scorers previously each ran (and persisted) their own
    # pass. Round 9 (ADVICE r8): localCheckpoint instead of a bare
    # .persist() — the returned frame is lazy, so an unmatched persist
    # would squat a corpus-sized cache for the rest of the 50-query gate
    # session; checkpoint blocks are released by the ContextCleaner when
    # the frame is GC'd (the q51 aggregated-side pattern).
    tokd = T.tokens_projection(docs).localCheckpoint()
    lm = T.unigram_logprob_scores(docs, tokens_df=tokd).select(
        "doc_id", F.col("mean_logp").alias("mean_logp")
    )
    # round 7: + the order-2 scorer (stupid backoff) under the same gate —
    # the oracle re-derives pairs (lag over filtered token positions),
    # top-k bigram conditionals with exact history counts, and both
    # backoff tiers
    lm2 = T.bigram_logprob_scores(docs, tokens_df=tokd).select(
        "doc_id", F.col("mean_logp2").alias("mean_logp2")
    )
    return (
        stats.join(lm, "doc_id", "left")
        .join(lm2, "doc_id", "left")
        .orderBy("doc_id")
    )


def _pq_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import text as T

    docs = _docs_spread(spark, sf_dir)
    return (
        docs.select(T.langid_expr("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("lang_pred")
    )


def _pq_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fingerprint + (round 9) the DSIR importance log-weight
    under the hashed-unigram models fit on (target = lang='en' docs,
    source = full corpus) — the oracle re-derives BOTH count aggregates,
    the smoothed log-ratio vector, and every doc's token-bucket sum."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import text as T
    from dask_glm_spark.operators.sampling import (
        dsir_logratio_vector,
        dsir_score_expr,
    )

    docs = _docs_spread(spark, sf_dir)
    # fused one-pass form: target is a labeled subset of the pool
    w = dsir_logratio_vector(
        docs, nf=512, target_cond=(F.col("lang") == "en")
    )
    return docs.select(
        "doc_id",
        T.fingerprint_expr("text").cast("long").alias("fp"),
        F.round(dsir_score_expr("text", w), 6).cast("double").alias("dsir"),
    ).orderBy("doc_id")


def _pq_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate stats + (round 7) the incremental-dedup replay contract:
    the corpus split into two batches by doc_id parity, fed through
    exact_dedup_incremental sequentially with the engine-portable
    polyhash fingerprint — inc_b0/inc_b1 are the per-batch survivor
    counts the oracle re-derives as per-fp first-batch-wins."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    # coarsened dedup text (first two whitespace tokens of the lowered
    # text): the synthetic corpus has no full-text duplicates, so the
    # replay would never exercise a cross-batch hit — the 2-token prefix
    # collides heavily and makes both the in-batch survivor pick and the
    # batch-1 exclusion real
    coarse = F.array_join(F.slice(F.split(F.lower(F.col("text")), r"\s+"), 1, 2), " ")
    docs = docs.withColumn("ctext", coarse)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    fp = T.fingerprint_expr("ctext").cast("long")
    s0, idx = D.exact_dedup_incremental(b0, None, text_col="ctext", fp_expr=fp)
    s1, _ = D.exact_dedup_incremental(b1, idx, text_col="ctext", fp_expr=fp)
    inc = _local_rows_df(
        spark, [(s0.count(), s1.count())], "inc_b0 long, inc_b1 long"
    )
    return D.duplicate_stats(docs, ["text"]).crossJoin(inc)


def _pq_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.sources.glm_source import load_table

    # shingles/signatures/bands are bit-identical to the expression chain
    # the DuckDB oracle replicates (parity pytest-pinned)
    return D.minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


def _pq_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    # arrow twin: bit-identical to simhash_expr (parity pytest-pinned)
    return (
        D.simhash_rows_arrow(docs)
        .select("doc_id", F.col("simhash").cast("long").alias("simhash"))
        .orderBy("doc_id")
    )


def _pq_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.operators import similarity as S
    from dask_glm_spark.sources.glm_source import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(
        emb, threshold=0.4, block_col="label", method="exact"
    )


def _pq_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import similarity as S
    from dask_glm_spark.sources.glm_source import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    topk = S.brute_force_topk(emb, emb.where(F.col("vec_id") < 5), k=5)
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 5).cast("double").alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


def _pq_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.streaming.scoring import hourly_event_stats, load_events

    return hourly_event_stats(load_events(spark, sf_dir))


def _pq_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        T.hashing_tf_sparse(docs, num_features=64)
        .select("doc_id", "bucket", F.col("tf").cast("long").alias("tf"))
        .orderBy("doc_id", "bucket")
    )


def _pq_multimodal_bytehist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import multimodal as M
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    feats = M.byte_histogram_features(M.attach_text_payloads(docs))
    return (
        feats.select("doc_id", F.posexplode("features").alias("bin", "cnt"))
        .where(F.col("cnt") > 0)
        .select(
            "doc_id",
            F.col("bin").cast("long").alias("bin"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .orderBy("doc_id", "bin")
    )


def _pq_exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs, ["text"], order_col="doc_id")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _pq_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.sources.glm_source import load_table
    from dask_glm_spark.streaming.sessions import sessionize_batch

    events = load_table(spark, sf_dir, "events")
    return (
        sessionize_batch(events, gap_minutes=30)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "start_us")
    )


def _pq_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    pairs = D.simhash_dedup_pairs(docs, max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


def _pq_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    feats = T.tfidf_features(docs, num_features=64)
    return (
        feats.select("doc_id", F.posexplode("features").alias("bucket", "v"))
        .select(
            "doc_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.round("v", 6).cast("double").alias("tfidf"),
        )
        .orderBy("doc_id", "bucket")
    )


def _pq_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.sources.glm_source import load_table

    # src6/src7: blocks that contain verified >= 0.5 pairs at both gate SFs
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src6", "src7")
    )
    pairs = D.ngram_jaccard_pairs(docs, "source", threshold=0.5)
    # round 9: + the overlap coefficient (asymmetric containment) under
    # the same hash gate — the oracle re-derives |A∩B|/min(|A|,|B|)
    return pairs.select(
        "blk", "id_a", "id_b",
        F.col("jaccard").cast("double").alias("jaccard"),
        F.col("containment").cast("double").alias("containment"),
    ).orderBy("blk", "id_a", "id_b")


def _pq_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.operators import graph as G
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    cc = G.connected_components(pairs)
    return cc.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    ).orderBy("doc_id")


def _pq_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.operators import graph as G
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    return (
        G.neardup_survivors(docs, pairs)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _pq_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 vocabulary + (round 7) count-min point estimates: the
    ``cms_est`` column is ``min_i counters[i][h_i(token)]`` from a
    depth-4 × width-256 sketch built over the SAME token stream
    (``sketches.cms_counters``) — width deliberately small at the gate
    SFs so bucket collisions are real and the min-over-depth estimate is
    exercised, not vacuous. The hashing is the engine-portable double
    polyhash, so the oracle re-derives the exact counter grid and the
    estimates HASH-match (no tolerance contract needed: CMS is
    deterministic given its hash family)."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import sketches as SK
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    # two independent tokenize scans beat a shared persisted explode here
    # (A/B at sf0.1: 1.7-2.0 s vs 2.2-2.3 s — the explode is cheaper than
    # materializing it); cms_counters' tokens_df hook remains for callers
    # that already hold a cached token table
    tok = docs.select(
        "doc_id", F.explode(T.tokens_expr("text")).alias("token")
    ).where(F.length("token") > 0)
    top = (
        tok.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(100)
    )
    ctr = SK.cms_counters(docs, depth=4, width=256)
    return SK.cms_estimate(top, ctr, depth=4, width=256)


def _pq_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling stats + (round 7) per-lang survivor counts of
    ``quality.domain_caps`` over the source column — the hash-thinning cap
    runs with the engine-portable polyhash so the oracle re-derives the
    exact survivor set."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import quality as Q
    from dask_glm_spark.operators import sampling as S
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.operators.text import polyhash_expr
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = S.stratified_sample(
        docs, "lang", {"en": 60, "de": 40, "fr": 40}, default_pct=20,
        key_col="doc_id", salt="mix",
    )
    capped = Q.domain_caps(
        docs, "source", cap=10,
        hash_col=polyhash_expr(F.col("doc_id").cast("string")),
    )
    capped_by_lang = capped.groupBy("lang").agg(
        F.count("*").cast("long").alias("capped_docs")
    )
    # round 7: exact-k weighted sampling (Efraimidis–Spirakis / Gumbel
    # top-k) — 25 docs per lang, longer docs proportionally likelier;
    # the oracle re-derives the full priority chain
    wsel = S.weighted_sample_k(
        docs, 25, T.token_count_expr("text"), by="lang",
        key_col="doc_id", salt="wmix", keys_only=True,
    )
    ws_by_lang = wsel.groupBy("lang").agg(
        F.count("*").cast("long").alias("wsample_docs"),
        F.sum("weight").cast("long").alias("wsample_tokens"),
    )
    # round 7: quantile-band mixture (CCNet head/middle/tail) with EXPLICIT
    # thresholds (40/70 tokens — the corpus terciles sit near 37/72), so
    # the oracle re-derives the band CASE + hash-rate keep rule exactly;
    # the approx-sketch threshold derivation is pytest-covered (engine
    # sketches differ across engines by contract)
    qsel = S.stratified_sample_by_quantile(
        docs.withColumn(
            "_score", T.token_count_expr("text").cast("double")
        ),
        "_score",
        edges=[0.3, 0.7],
        rates_pct={"b0": 0, "b1": 50, "b2": 100},
        key_col="doc_id",
        salt="qmix",
        thresholds=[40.0, 70.0],
    )
    qb_by_lang = qsel.groupBy("lang").agg(
        F.count("*").cast("long").alias("qband_docs")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(T.token_count_expr("text")).cast("long").alias("sum_tokens"),
        )
        .join(capped_by_lang, "lang", "left")
        .withColumn("capped_docs", F.coalesce("capped_docs", F.lit(0)))
        .join(ws_by_lang, "lang", "left")
        .withColumn("wsample_docs", F.coalesce("wsample_docs", F.lit(0)))
        .withColumn("wsample_tokens", F.coalesce("wsample_tokens", F.lit(0)))
        .join(qb_by_lang, "lang", "left")
        .withColumn(
            "qband_docs", F.coalesce("qband_docs", F.lit(0)).cast("long")
        )
        .orderBy("lang")
    )


def _pq_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import packing as P
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        T.token_count_expr("text").cast("long").alias("n_tokens"),
        P.pack_bucket_expr("doc_id", 8).cast("long").alias("bucket"),
    )
    packed = P.greedy_pack(
        P.chunked_pack(docs, "n_tokens", budget=256), "n_tokens", budget=256
    )
    return packed.select(
        "doc_id",
        "bucket",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("seq_id").cast("long").alias("seq_id"),
    ).orderBy("doc_id")


def _pq_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.operators import graph as G
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    # The full text slice stays UNCACHED (A/B r5: caching text payloads
    # costs more than recompute; the dedup operator persists its own
    # shingle/band projections). What IS cached (A/B r6: 6.5-6.9 s vs
    # 6.6-7.4 s uncached at sf0.1, identical results) is a TEXT-FREE
    # per-doc projection — the post-dedup aggregate consumes it directly,
    # so quality/langid/token_count are evaluated once instead of being
    # re-derived from raw text on the survivor branch.
    cur = docs.select(
        "doc_id",
        "text",
        "source",
        F.round(T.quality_score_expr("text"), 6).alias("quality"),
        T.langid_expr("text").alias("lang_pred"),
    ).where((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))
    # Round 10 (VERDICT r9 #2): localCheckpoint, not persist — the
    # returned frame is lazy, so a bare .persist() with no unpersist
    # would squat a corpus-row-sized cache for the rest of the 50-query
    # gate session (the q16/q51 pattern; checkpoint blocks are released
    # by the ContextCleaner when the frame is GC'd).
    # r14 (VERDICT r13 #8, guide §2.4): the checkpoint moves UP to the
    # filtered slice itself, so the dedup branch reads it too — before,
    # meta checkpointed a text-free projection and minhash_dedup_pairs
    # re-ran the parquet scan + quality/langid filter a second time to
    # get the text. One materialization now feeds both branches (scan
    # count 2 -> 1); meta stays a lazy view over it (consumed once by
    # the survivors join), so n_tok is still computed exactly once.
    curc = cur.localCheckpoint()
    meta = curc.select(
        "doc_id",
        "source",
        "quality",
        T.token_count_expr("text").cast("long").alias("n_tok"),
    )
    surv = G.neardup_survivors(
        meta, D.minhash_dedup_pairs(curc, threshold=0.5)
    )
    return (
        surv.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            F.round(F.avg("quality"), 6).cast("double").alias("avg_quality"),
        )
        .orderBy("source")
    )


def _pq_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token percentiles + (round 8) the same distribution in
    FIXED-table BPE subword units via the count_expr hook — the oracle
    re-derives both counts per doc and both quantile_disc aggregates."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import text as T
    from dask_glm_spark.operators.bpe import (
        FIXED_MERGES_EN,
        bpe_token_count_arrow,
    )
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = T.token_percentiles(docs, by="source")
    # Round 9 (VERDICT r8 #3): the BPE-unit counts come from the Arrow
    # cached-word path (bit-identical to bpe_token_count_expr — fuzz-
    # parity-pinned in tests/test_bpe.py) instead of the interpreted
    # per-row replace chain; the DuckDB oracle still re-derives the
    # replace-chain form. Narrow 2-column projection feeds the pass.
    counted = bpe_token_count_arrow(
        docs.select("source", "text"), FIXED_MERGES_EN, out_col="n_bpe"
    )
    bpe = T.token_percentiles(
        counted, by="source", quantiles=(0.5,), count_expr=F.col("n_bpe")
    ).select(
        "source",
        F.col("p50").alias("bpe_p50"),
        F.col("max_tokens").alias("bpe_max_tokens"),
    )
    return base.join(bpe, "source").orderBy("source")


def _pq_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.operators.quality import repetition_stats
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


def _pq_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + (round 7) corpus-level paragraph dedup, both per-doc:
    paragraphs are synthesized by replacing the literal token 'merge'
    with '|' (the corpus has no newlines), then ``quality.
    paragraph_dedup`` keeps only each paragraph's global first occurrence
    and reassembles — the oracle re-derives the whole split/first/
    reassemble pipeline in SQL."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.quality import (
        paragraph_dedup,
        scrub_expr,
        strip_boilerplate_lines,
        strip_duplicated_spans,
    )

    docs = _docs_spread(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com via https://ex.example/"),
        F.col("doc_id").cast("string"),
        F.lit(" ref "),
        # mod before squaring: raw doc_id^2 overflows long once ids leave
        # the small gate-SF range (found by the round-8 10x full-gate run,
        # which remaps ids by +k*10^12 per copy)
        (
            F.pmod(F.col("doc_id"), F.lit(1000003))
            * F.pmod(F.col("doc_id"), F.lit(1000003))
            + F.lit(1234567)
        ).cast("string"),
    )
    pdd = paragraph_dedup(
        docs.select(
            "doc_id",
            F.regexp_replace(F.col("text"), "merge", "|").alias("ptext"),
        ),
        text_col="ptext",
        sep="|",
        out_col="par_dedup_text",
    ).select("doc_id", "par_dedup_text")
    # round 7: + wspan_text — FineWeb-style repeated-span removal. An
    # 8-token span is PREPENDED to every doc (aligned to window 0 at
    # stride=w=8, so it is one shared window corpus-wide); only the
    # smallest doc_id keeps it, every other doc loses exactly that
    # window (plus any natural aligned window repeats — the oracle
    # re-derives the whole window/first/strip pipeline).
    wsyn = F.concat(
        F.lit("shared span block one two three four five "), F.col("text")
    )
    wdd = strip_duplicated_spans(
        docs.select("doc_id", wsyn.alias("wtext")),
        w=8,
        text_col="wtext",
        out_col="wspan_text",
    ).select("doc_id", "wspan_text")
    # round 8: + bp_text — strip_boilerplate_lines over the same '|'
    # paragraphs (document-frequency >= 3): every occurrence of a common
    # line goes, unlike par_dedup's keep-first; the oracle re-derives
    # the trimmed-line polyhash DF threshold and the rebuild
    bpd = strip_boilerplate_lines(
        docs.select(
            "doc_id",
            F.regexp_replace(F.col("text"), "merge", "|").alias("btext"),
        ),
        text_col="btext",
        sep="|",
        min_docs=3,
        out_col="bp_text",
    ).select("doc_id", "bp_text")
    return (
        docs.select("doc_id", scrub_expr(synth).alias("scrubbed"))
        .join(pdd, "doc_id")
        .join(wdd, "doc_id")
        .join(bpd, "doc_id")
        .orderBy("doc_id")
    )


def _pq_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.quality import (
        contamination_scores,
        decontaminate,
    )
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 31 == 0)
    corpus = docs.where(F.col("doc_id") % 31 != 0)
    out = decontaminate(corpus, bench, n=5)
    # round 7: + graduated overlap columns (contamination_scores) for the
    # flagged docs — the oracle re-derives distinct-gram totals and hits
    scores = contamination_scores(corpus, bench, n=5)
    return (
        out.where(F.col("contaminated"))
        .select("doc_id")
        .join(scores, "doc_id")
        .orderBy("doc_id")
    )


def _pq_waveform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.multimodal import (
        attach_text_payloads,
        waveform_stats,
    )
    from dask_glm_spark.sources.glm_source import load_table

    docs = attach_text_payloads(load_table(spark, sf_dir, "documents"))
    out = waveform_stats(docs)
    return out.select(
        "doc_id",
        "n_samples",
        F.round("mean", 4).cast("double").alias("mean"),
        F.round("rms", 4).cast("double").alias("rms"),
        "zero_crossings",
    ).orderBy("doc_id")


def _pq_vocab_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.functions.sketches import vocab_sketch_stats
    from dask_glm_spark.sources.glm_source import load_table

    return vocab_sketch_stats(load_table(spark, sf_dir, "documents"))


def _pq_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.joins import range_join
    from dask_glm_spark.streaming.scoring import load_events
    from dask_glm_spark.streaming.sessions import sessionize_batch

    ev = load_events(spark, sf_dir)
    sess = sessionize_batch(ev, gap_minutes=30).select(
        "user_id", "session_start", "session_end"
    )
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts")
    j = range_join(errors, sess, point_ts="ts", by="user_id")
    return (
        j.groupBy("user_id", "session_start")
        .agg(F.count("*").cast("long").alias("n_errors"))
        .select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            "n_errors",
        )
        .orderBy("user_id", "start_us")
    )


def _pq_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.joins import asof_join
    from dask_glm_spark.streaming.scoring import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # dedupe ties at (user, ts) deterministically (max event_id wins) —
    # mirrored in the oracle, since ASOF tie behavior is unspecified
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("value", "event_id").alias("value"),
        )
        # localCheckpoint (eager), not persist: the auto skew probe is an
        # eager action over the union, and an unpersisted shuffle-rooted
        # side would run its aggregation twice (probe + real query) — see
        # asof_join's docstring. Checkpoint blocks are released when this
        # frame is GC'd after the query, so nothing leaks into the rest of
        # the 50-query gate session (the _pq_lsh_buckets pattern; a bare
        # .persist() here had no matching unpersist).
        .localCheckpoint()
    )
    out = asof_join(
        clicks, errors, time_col="ts", by="user_id",
        value_cols=["event_id", "value"],
    )
    return out.select(
        "event_id",
        F.coalesce(F.col("event_id_asof"), F.lit(-1)).cast("long").alias("asof_event_id"),
        F.round(F.coalesce(F.col("value_asof"), F.lit(-1.0)), 2)
        .cast("double")
        .alias("asof_value"),
    ).orderBy("event_id")


def _pq_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.multimodal import (
        attach_text_payloads,
        resize_images,
    )
    from dask_glm_spark.sources.glm_source import load_table

    docs = attach_text_payloads(load_table(spark, sf_dir, "documents"))
    feats = resize_images(docs, width=16, out_width=4, out_height=4)
    return (
        feats.select("doc_id", F.posexplode("features").alias("pos", "value"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.round("value", 6).cast("double").alias("value"),
        )
        .orderBy("doc_id", "pos")
    )


def _pq_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket histogram + ANN RECALL CONTRACT (round 7, VERDICT r6 gap
    #2: recall was pytest-only). The histogram stays hash-gated against
    the oracle's re-derived sign patterns; two appended booleans assert
    recall@5 vs the brute-force ground truth on the first 10 query
    vectors: multiprobe LSH (3 planes -> 4/8 of bucket space probed) must
    reach >= 0.5, IVF (12 cells, nprobe 6) >= 0.6, (round 9) IVF-PQ with
    exact refine (m=16, ksub=128 over a 1024-row sample prefix,
    refine=30) >= 0.6 — round 10 runs that same contract THROUGH the OPQ
    rotation (opq_train -> rotate_vectors on corpus+queries, rotated
    centroids cent@R; VERDICT r9 #1), and (round 10) SQ8 asymmetric
    brute force (sq_train/sq_encode/sq_brute_force_topk, 4x compression)
    must reach >= 0.8. The recall corpus
    is BOUNDED at the first 2048 vectors (contract-as-canary: its cost
    must not scale with the table — at 100 TB a full-corpus brute force
    inside a correctness query would be a job, not a check; at the gate
    SFs the bound is a no-op). All paths are seeded/deterministic —
    measured lsh 0.62/0.70/0.56, ivf 0.80/0.80/0.84, opq-pq
    0.80/0.80/0.82 and sq 1.00/1.00/0.96 at sf0.001/0.01/0.1, so the
    bounds are SF-robustness margin, not flakiness slack. The oracle
    emits TRUE literals (the q46/q53
    accuracy-contract pattern)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.similarity import (
        DEFAULT_PLANES,
        _hyperplanes,
        bucket_expr,
        hard_negative_ids,
        ivf_ann_topk,
        ivf_pq_ann_topk,
        lsh_ann_topk,
        opq_train,
        rotate_vectors,
        sample_vectors,
        sq_brute_force_topk,
        sq_encode,
        sq_train,
        train_ivf_centroids,
    )
    from dask_glm_spark.sources.glm_source import load_table

    # The returned (lazy) histogram reads a FRESH load; the persisted copy
    # only serves the three eager recall computations below and is released
    # before returning — a leaked cache here would squat executor memory
    # for the rest of the 50-query gate session (review r7).
    emb_fresh = load_table(spark, sf_dir, "embeddings")
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 2048)  # bounded recall corpus (canary)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    planes = _hyperplanes(64, DEFAULT_PLANES)
    hist = (
        emb_fresh.select(bucket_expr(F.col("embedding"), planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )

    def _recall(approx_rows, truth):
        found: dict = {}
        for r in approx_rows:
            found.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(truth[q] & found.get(q, set())) / len(truth[q]) for q in truth
        ) / len(truth)

    k = 5
    queries = emb.where(F.col("vec_id") < 10)
    # Round 10: BOTH ground truths (ANN + hard-negative) come from ONE
    # driver collect of the canary (~1 MB at the 2048-row bound) and a
    # numpy exact top-k — replacing the distributed top-60 brute-force
    # chain plus a separate labels collect. The truth is a CHECK input,
    # not an operator under test (brute_force_topk itself stays under
    # the hash gate via q24_cosine_topk), and at gate time the old
    # chain's cost was pure job-floor + plan-compile overhead. Bonus:
    # the hard-negative truth is now the TRUE other-label top-k (not a
    # prefix of top-60), so the r9 completeness guard is structurally
    # unnecessary — it holds whenever the canary has >= k other-label
    # rows per query label, which the 2048 bound guarantees here.
    import numpy as np

    from dask_glm_spark.functions.kernels import kernel_exec

    # r13 (guide §1.2/§2.4): every eager action below runs on the BOUNDED
    # 2048-row canary — AQE's per-query-stage barriers are pure fixed
    # latency on these tiny jobs (~10 of them), so the whole eager recall
    # section runs under the kernel-action AQE bypass. The returned
    # histogram stays lazy and executes under the session's normal config.
    with kernel_exec(spark):
        rows = emb.select("vec_id", "embedding", "label").collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        X = np.array([r["embedding"] for r in rows], dtype=np.float64)
        labs = np.array([r["label"] for r in rows])
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        q_idx = {int(ids[i]): i for i in range(len(ids)) if ids[i] < 10}
        truth: dict = {}
        hn_truth: dict = {}
        for qid, qi in sorted(q_idx.items()):
            cos = Xn @ Xn[qi]
            not_self = ids != qid
            # brute_force_topk's total order: cosine desc, neighbor_id asc
            order = np.lexsort((ids[not_self], -cos[not_self]))
            cand_ids = ids[not_self][order]
            cand_labs = labs[not_self][order]
            truth[qid] = set(cand_ids[:k].tolist())
            hn_truth[qid] = cand_ids[cand_labs != labs[qi]][:k].tolist()
        lsh_rec = _recall(
            # dim=64 (r14, VERDICT r13 #3): the table dim is pinned by the
            # histogram's own _hyperplanes(64, ...) above — passing it
            # skips the operator's per-call _infer_dim probe job
            lsh_ann_topk(emb, queries, k=k, n_planes=3, dim=64).collect(),
            truth,
        )
        sv = sample_vectors(emb, "embedding")  # ONE sample trains IVF + PQ
        cent = train_ivf_centroids(emb, 12, sample=sv)
        ivf_rec = _recall(
            ivf_ann_topk(
                emb, queries, k=k, n_centroids=12, nprobe=6, centroids=cent
            ).collect(),
            truth,
        )
        # round 9 (VERDICT r8 #5): IVF-PQ + exact-refine recall contract —
        # the compressed-index memory path (16 bytes/vector of code payload
        # vs 256 of float32) must rank like IVF-flat once the refine stage
        # absorbs quantization error. Measured 0.80/0.80/0.84 at
        # sf0.001/0.01/0.1 — identical to ivf_flat, so the 0.6 bound is the
        # same SF-robustness margin as the IVF contract.
        # ksub=128 over the sample's first 1024 rows (the hash-ordered prefix
        # is itself a uniform subsample): 4x cheaper codebook k-means, and the
        # refine stage absorbs the coarser quantization. Round 10 (VERDICT r9
        # #1): the contract runs THROUGH the OPQ rotation — opq_train learns
        # R on the same sample prefix, corpus/queries rotate in one Arrow
        # pass each, and the IVF centroids rotate driver-side (cent @ R: R
        # orthogonal preserves dots and norms, so cell assignment and exact
        # refine cosines are identical to unrotated space — the truth set
        # transfers as-is). Gate now exercises opq_train + rotate_vectors +
        # pq codebooks + ADC + refine in one run at the plain-PQ price (the
        # extra cost is driver numpy on 1024x64 + two canary-sized rotates).
        R, cb = opq_train(emb, m=16, ksub=128, sample=sv[:1024], iters=2)
        # persist the rotated canary: the PQ run scans it twice (index
        # build + refine raw side) and rotation is a python-worker round
        # trip per scan; released right after the recall collect
        emb_r = rotate_vectors(emb, R).persist(StorageLevel.MEMORY_AND_DISK)
        pq_rec = _recall(
            ivf_pq_ann_topk(
                emb_r, rotate_vectors(queries, R), k=k, n_centroids=12,
                nprobe=6, centroids=cent @ R, codebooks=cb, refine=30,
            ).collect(),
            truth,
        )
        emb_r.unpersist()
        # Round 10 (VERDICT r9 #1): SQ8 contract — asymmetric brute force
        # over the 4x-compressed codes (uncompressed query vs batch-decoded
        # corpus) on the same canary + truth. SQ8 is near-lossless for
        # cosine ranking, so the bound is the tight one (0.8).
        lo, hi = sq_train(emb, sample=sv)
        sq_rec = _recall(
            sq_brute_force_topk(
                sq_encode(emb.select("vec_id", "embedding"), lo, hi),
                queries, lo, hi, k=k,
            ).collect(),
            truth,
        )
        # round 8: + hard-negative mining contract — recall@5 of
        # similarity.hard_negative_ids (3 planes; cross-label negatives cross
        # bucket boundaries more than ANN neighbors, so fewer planes) vs the
        # TRUE other-label top-k truth (numpy, derived above from the same
        # canary collect — round 10; this supersedes the r9 prefix-of-top-60
        # truth and its completeness guard, because a label-filtered exact
        # top-k can never be incomplete while the canary holds >= k
        # other-label rows). Measured 0.64/0.72/0.54 at sf0.001/0.01/0.1 —
        # the 0.4 bound is margin.
        hn_found: dict = {}
        for r in hard_negative_ids(
            emb, k=k, n_planes=3, anchors=queries, dim=64
        ).collect():
            hn_found.setdefault(r["anchor_id"], set()).add(r["neg_id"])
        hn_rec = sum(
            len(set(t) & hn_found.get(q, set())) / len(t)
            for q, t in hn_truth.items()
        ) / max(len(hn_truth), 1)
        emb.unpersist()
    return hist.select(
        "bucket",
        "n",
        F.lit(bool(lsh_rec >= 0.5)).alias("lsh_recall_ok"),
        F.lit(bool(ivf_rec >= 0.6)).alias("ivf_recall_ok"),
        F.lit(bool(hn_rec >= 0.4)).alias("hard_negative_recall_ok"),
        F.lit(bool(pq_rec >= 0.6)).alias("pq_recall_ok"),
        F.lit(bool(sq_rec >= 0.8)).alias("sq_recall_ok"),
    ).orderBy("bucket")


def _pq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's over the embeddings table (k=8, 5 fixed rounds,
    seeded layout-independent sample init) under an ACCURACY CONTRACT
    (VERDICT r5 #2, the q53 pattern): the fixpoint loop itself is not
    ANSI-SQL-expressible, so the query emits values/booleans the DuckDB
    oracle re-derives — n_total must equal the corpus COUNT(*),
    sizes_sum_ok asserts the per-cluster histogram accounts for every row,
    and matches_numpy_lloyd compares the distributed rounds against
    driver-side ``clustering.lloyd_np`` from the SAME init (gate-only
    collect of the sf0.01 corpus — 500 rows; the scale path never
    collects). hash_match is now meaningful instead of 'no_oracle'."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_glm_spark.operators import clustering as C
    from dask_glm_spark.sources.glm_source import load_table

    from dask_glm_spark.functions.kernels import kernel_exec

    from pyspark import StorageLevel

    from dask_glm_spark.plans.layout import ensure_min_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    # r14 (guide §5, VERDICT r13 #7 — the q48 shared-projection pattern):
    # ONE persisted vector projection serves the init sample, all 5 Lloyd
    # rounds, the sizes histogram AND the gate collect — previously init/
    # fit/sizes/collect each re-derived it from parquet (4 full scans).
    # Released before returning; float->double widening is exact, so the
    # sizes assignments over the cast projection are bit-identical to the
    # raw-embedding expression they replace.
    vd = ensure_min_parallelism(
        emb.select(F.col("embedding").cast("array<double>").alias("_v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init = C._init_centroids(vd, 8, "_v", C.IVF_SEED)
        cent = C.kmeans_fit(
            vd, k=8, vec_col="_v", max_iter=5, tol=0.0, centroids=init.copy()
        )
        # bounded results (k-row histogram over the cache; gate-only corpus
        # collect) — skip the AQE stage barriers like the Lloyd rounds (r13)
        with kernel_exec(spark):
            sizes = C.cluster_sizes(vd, cent, vec_col="_v").collect()
            n_total = int(sum(r["n"] for r in sizes))
            X = np.asarray(
                [r[0] for r in vd.collect()], dtype=np.float64
            )
    finally:
        vd.unpersist()
    want = C.lloyd_np(X, init, iters=5, tol=0.0)
    match = bool(np.allclose(cent, want, rtol=1e-8, atol=1e-10))
    sizes_ok = n_total == len(X)  # corpus count from the same gate collect
    return _local_rows_df(
        spark,
        [(len(cent), n_total, sizes_ok, match)],
        "k bigint, n_total bigint, sizes_sum_ok boolean, matches_numpy_lloyd boolean",
    )


def _pq_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.operators.quality import select_to_token_budget
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    sel = select_to_token_budget(docs, 3000, by="source")
    return sel.select("doc_id", "source").orderBy("doc_id")


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q16_token_stats": _pq_token_stats,
    "q17_langid": _pq_langid,
    "q19_fingerprint": _pq_fingerprint,
    "q20_exact_dedup": _pq_exact_dedup,
    "q21_minhash_dedup": _pq_minhash_dedup,
    "q22_simhash": _pq_simhash,
    "q23_embedding_neardup": _pq_embedding_neardup,
    "q24_cosine_topk": _pq_cosine_topk,
    "q25_events_hourly": _pq_events_hourly,
    "q26_hashing_tf": _pq_hashing_tf,
    "q27_multimodal_bytehist": _pq_multimodal_bytehist,
    "q28_exact_dedup_survivors": _pq_exact_dedup_survivors,
    "q29_sessions": _pq_sessions,
    "q30_simhash_pairs": _pq_simhash_pairs,
    "q31_tfidf": _pq_tfidf,
    "q32_ngram_jaccard": _pq_ngram_jaccard,
    "q34_components": _pq_components,
    "q35_neardup_survivors": _pq_neardup_survivors,
    "q36_vocab_topk": _pq_vocab_topk,
    "q37_stratified_sample": _pq_stratified_sample,
    "q38_sequence_packing": _pq_sequence_packing,
    "q39_curation_pipeline": _pq_curation,
    "q40_token_percentiles": _pq_token_percentiles,
    "q41_repetition": _pq_repetition,
    "q42_scrub": _pq_scrub,
    "q43_decontam": _pq_decontam,
    "q44_token_budget": _pq_token_budget,
    "q45_lsh_buckets": _pq_lsh_buckets,
    "q46_kmeans_sizes": _pq_kmeans,
    "q47_waveform": _pq_waveform,
    "q50_image_resize": _pq_image_resize,
    "q51_asof_join": _pq_asof_join,
    "q52_range_join": _pq_range_join,
    "q53_vocab_sketch": _pq_vocab_sketch,
}


# ---------------------------------------------------------------------------
# Engine-backed Spark runners (ADVICE r1, medium): the Spark side of each
# correctness check runs the ENGINE's kernel/family/metric code — the same
# functions every solver iteration calls — not the oracle's SQL text.  The
# DuckDB oracle (KERNEL_SQL above) stays the independent formulation, so the
# gate now validates the implementation, not Spark/DuckDB dialect agreement.
# Rounding is applied as Spark expressions (F.round) so half-away-from-zero
# semantics match both engines; driver-side scalars/vectors from the kernels
# are re-wrapped in tiny DataFrames at full precision, then rounded in Spark.
# ---------------------------------------------------------------------------
BETA = [0.1, -0.2, 0.3, 0.05]  # fixed kernel-check coefficients (FIXTURES.md §A)


def _glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.sources.glm_source import load_glm

    return load_glm(spark, sf_dir)


def _glm_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four row-addressed queries (q01/q10/q14/q15) read ONLY ids
    1..100, so they use the TakeOrdered head instead of dragging the
    whole table through a single-partition row_number sort (round 6 —
    values identical, pytest-pinned in tests/test_ingest.py)."""
    from dask_glm_spark.sources.glm_source import load_glm_top

    return load_glm_top(spark, sf_dir, 100)


def _glm_nosort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The glm relation WITHOUT the row_number id: a pure narrow map over
    the pruned scan. Used by every aggregate-only query (sums are
    id-independent) — the global sort exists solely for row-addressed
    queries (q01/q10/q14/q15), and carrying it into aggregates would be
    exactly the kind of needless total order that breaks at 100 TB."""
    from pyspark.sql import functions as F

    from dask_glm_spark.sources.glm_source import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.array(
            F.col("l_quantity") * 1.0,
            F.col("l_extendedprice") / 1e4,
            F.col("l_discount") * 10.0,
            F.col("l_tax") * 10.0,
        ).alias("features"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        (F.col("l_quantity") * 1.0).alias("label_reg"),
        F.round(F.col("l_quantity")).cast("double").alias("label_cnt"),
    )


def _local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """LocalRelation twin of ``spark.createDataFrame(rows, schema)`` for
    SMALL driver-computed results (r14, guide §2.4): a VALUES literal
    plan collects via LocalTableScan with ZERO Spark jobs, where the
    RDD-backed createDataFrame pays a parallelize job (plus a range
    exchange + sampling job under orderBy) — measured 3 jobs / 0.75 s →
    0 jobs / 0.03 s for q48's 4-row result on this box. Bit-exact:
    double literals are ``repr(x)`` (shortest round-trip form; Spark's
    literal parse is correctly rounded, so the parsed double is x) with
    the D suffix, NaN/±Infinity via CAST; ints/longs/booleans are plain
    literals. Row ORDER is the literal order — callers emit rows already
    sorted where the former plan had an orderBy."""
    import math as _math

    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]

    def lit(v, typ: str) -> str:
        t = typ.strip().lower()
        if t == "double":
            x = float(v)
            if _math.isnan(x):
                return "CAST('NaN' AS DOUBLE)"
            if _math.isinf(x):
                return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
            return repr(x) + "D"
        if t in ("int", "integer"):
            return str(int(v))
        if t in ("bigint", "long"):
            return str(int(v)) + "L"
        if t == "boolean":
            return "true" if bool(v) else "false"
        raise ValueError(f"unsupported local-literal type {typ!r}")

    vals = ", ".join(
        "(" + ", ".join(lit(v, c[1]) for v, c in zip(r, cols)) + ")"
        for r in rows
    )
    names = ", ".join(c[0] for c in cols)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({names})")


def _scalar_df(spark: SparkSession, value: float, name: str, digits: int) -> DataFrame:
    from pyspark.sql import functions as F

    return _local_rows_df(spark, [(float(value),)], f"{name} double").select(
        F.round(F.col(name), digits).cast("double").alias(name)
    )


def _q_matvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    df = _glm_top100(spark, sf_dir)
    return (
        df.select(
            "id", F.round(kernels.matvec_expr(BETA), 6).cast("double").alias("xb")
        )
        .orderBy("id")
    )


def _q_loglike(family_name: str, label_col: str, out_name: str, digits: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dask_glm_spark.functions import kernels
        from dask_glm_spark.functions.families import FAMILIES

        df = _glm_nosort(spark, sf_dir)
        val = kernels.loss(df, FAMILIES[family_name], BETA, label_col=label_col)
        return _scalar_df(spark, val, out_name, digits)

    return run


def _q_gradient(family_name: str, label_col: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from dask_glm_spark.functions import kernels
        from dask_glm_spark.functions.families import FAMILIES

        df = _glm_nosort(spark, sf_dir)
        g = kernels.gradient(df, FAMILIES[family_name], BETA, label_col=label_col)
        rows = [(j + 1, float(g[j])) for j in range(len(g))]
        # rows are emitted j-ascending — the literal order IS the former
        # orderBy("j") order (LocalTableScan preserves it)
        return _local_rows_df(spark, rows, "j int, g double").select(
            "j", F.round("g", 4).cast("double").alias("g")
        )

    return run


def _q_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels
    from dask_glm_spark.functions.families import Logistic

    df = _glm_nosort(spark, sf_dir)
    _, hess = kernels.gradient_hessian(df, Logistic, BETA, label_col="label")
    p = hess.shape[0]
    rows = [(i + 1, j + 1, float(hess[i, j])) for i in range(p) for j in range(i, p)]
    # rows are emitted (i, j)-ascending — the literal order IS the former
    # orderBy("i", "j") order
    return _local_rows_df(spark, rows, "i int, j int, h double").select(
        "i", "j", F.round("h", 4).cast("double").alias("h")
    )


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    df = _glm_nosort(spark, sf_dir)
    mean, std = kernels.column_moments(df, p=4)
    rows = [(j + 1, float(mean[j]), float(std[j])) for j in range(4)]
    # rows are emitted j-ascending — the literal order IS the former
    # orderBy("j") order
    return _local_rows_df(spark, rows, "j int, mean double, std double").select(
        "j",
        F.round("mean", 6).cast("double").alias("mean"),
        F.round("std", 6).cast("double").alias("std"),
    )


def _q_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels
    from dask_glm_spark.functions.families import sigmoid_expr

    df = _glm_top100(spark, sf_dir)
    return (
        df.select(
            "id",
            F.round(sigmoid_expr(kernels.matvec_expr(BETA)), 6)
            .cast("double")
            .alias("sig"),
        )
        .orderBy("id")
    )


def _q_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accuracy + distributed ROC AUC (round 7: metrics.roc_auc_score —
    the scale-safe rank-sum with a range-partitioned prefix sum; scores
    rounded to 6dp pre-grouping so both engines tie identically)."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels, metrics
    from dask_glm_spark.functions.families import sigmoid_expr

    df = _glm_nosort(spark, sf_dir)
    # ONE corpus scan: the (score, pos, neg) histogram feeds BOTH metrics
    # — accuracy is sum(score>0.5 ? pos : neg)/n over the tiny group
    # table, and roc_auc_score(pregrouped=True) skips its own groupBy
    # (round 7; previously accuracy and the AUC each scanned the scored
    # frame)
    g = (
        df.select(
            F.round(sigmoid_expr(kernels.matvec_expr(BETA)), 6).alias("_s"),
            (F.col("label") > 0.5).cast("double").alias("truth"),
        )
        .groupBy("_s")
        .agg(
            F.sum("truth").alias("pos"),
            (F.count("*") - F.sum("truth")).alias("neg"),
        )
        .persist()
    )
    # r14: the accuracy masses ride the AUC's own prefix-sum pass
    # (acc_threshold) — the former standalone accuracy job is gone; the
    # histogram persist now materializes inside the AUC's first job. The
    # sums are integer-valued, so the fused accuracy is bit-identical.
    auc, acc = metrics.roc_auc_score(
        g, y_score="_s", pregrouped=True, acc_threshold=0.5
    )
    g.unpersist()
    return _local_rows_df(
        spark,
        [(float(round(acc, 6)), float(round(auc, 6)))],
        "acc double, auc double",
    )


def _q_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_glm_spark.functions import kernels, metrics

    df = _glm_nosort(spark, sf_dir)
    scored = df.select(
        kernels.matvec_expr(BETA).alias("pred"), df["label_reg"].alias("truth")
    )
    val = metrics.mean_squared_error(scored, "truth", "pred")
    return _scalar_df(spark, val, "mse", 6)


def _q_poisson_deviance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels, metrics

    df = _glm_nosort(spark, sf_dir)
    scored = df.select(
        F.exp(kernels.matvec_expr(BETA)).alias("mu"), df["label_cnt"].alias("y")
    )
    val = metrics.poisson_deviance(scored, "y", "mu")
    return _scalar_df(spark, val, "deviance", 3)


def _q_add_intercept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    df = kernels.add_intercept(_glm_top100(spark, sf_dir))
    fc = F.col("features")
    return (
        df.select(
            "id",
            fc[0].alias("f1"),
            fc[1].alias("f2"),
            fc[2].alias("f3"),
            fc[3].alias("f4"),
            fc[4].alias("icpt"),
        )
        .orderBy("id")
    )


def _q_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    # moments over the FULL table (aggregate — no order needed); the
    # standardized rows come from the TakeOrdered head
    mean, std = kernels.column_moments(_glm_nosort(spark, sf_dir), p=4)
    z = kernels.standardize_expr(mean, std)
    return (
        _glm_top100(spark, sf_dir)
        .withColumn("z", z)
        .select(
            "id",
            *[
                F.round(F.col("z")[j], 6).cast("double").alias(f"z{j + 1}")
                for j in range(4)
            ],
        )
        .orderBy("id")
    )


def _q_solver_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unrolled fixed-step GD iteration AND the ISTA/prox candidate via
    the REAL solver-step code (solvers.gd_step -> kernels.loss_gradient +
    kernels.loss; solvers.prox_step -> L1.proximal_operator): update at
    BETA with pinned step, loss re-evaluated at beta1, and the L1
    soft-threshold of the same candidate. Merged former q48+q49 — one
    4-row result keeps the declared-query count inside the driver gate's
    50-row record.

    PER-COLUMN LINEAGE (VERDICT r12 #9 — sixteen gated values; a future
    hash mismatch should be attributable here in minutes). Row j carries
    coordinate j−1 of each vector quantity; scalar losses repeat per row:

    - ``beta1``       solvers.gd_step → kernels.loss_gradient at BETA,
                      fixed step GD_STEP_S (r1)
    - ``loss1``       loss at beta1 (r1); since r14's second pass read
                      from kernels.multi_loss_gradient's candidate 1 at
                      [BETA, beta1] — bit-identical to the kernels.loss
                      job it replaces (parity pinned in
                      tests/test_kernels.py)
    - ``beta1_prox``  solvers.prox_step → regularizers.L1.
                      proximal_operator at (beta1, GD_STEP_S·PROX_LAMDUH)
                      (r6, merged q49)
    - ``smloss`` / ``smg_c0..c2``  kernels.softmax_loss_gradient at the
                      pinned (4, 3) SOFTMAX_B over label_cnt % 3 (r7)
    - ``wloss`` / ``wgrad``  kernels.loss_gradient(weight_col='w'),
                      w = label_cnt%3+1 (r11, VERDICT r10 #1)
    - ``oloss`` / ``ograd``  kernels.loss_gradient(offset_col='o'),
                      o = 0.05·f2 (r11)
    - ``pchi2``       inference.glm_residuals(kind='pearson') at BETA,
                      sum of squares (r11)
    - ``dres``        inference.glm_residuals(kind='deviance') at BETA,
                      SIGNED sum (keeps the sign branch gated) (r12)
    - ``hvp``         kernels.hessian_vector_product at (BETA, HVP_V)
                      (r12), fused with smloss/smg into one scan by
                      kernels.fused_softmax_hvp
    - ``sloss`` / ``sgrad``  kernels_sparse.loss_gradient_sparse at BETA
                      over the RAGGED sparse view (coordinate
                      label_cnt%4 masked to 0, dropped by
                      to_sparse_columns) — the CSR bincount
                      scatter/gather physical path itself under the
                      gate (r13, the VERDICT r12 #7 principle applied
                      to the sparse layer)
    - ``shvp``        kernels_sparse.hessian_vector_product_sparse at
                      (BETA, HVP_V) over the same ragged view (r13)
    - ``mlgl0/mlgl1/mlgg0/mlgg1``  kernels.multi_loss_gradient
                      (the fused per-iteration line-search probe dense
                      gd/lbfgs actually run) at the candidate
                      pair [BETA, beta1]: candidate 0 must reproduce the
                      single-candidate gated values (loss = q02, gradient
                      = q05), candidate 1's gradient is new math from the
                      oracle's b CTE (r13)
    - ``smlgl1/smlgg1``  kernels_sparse.multi_loss_gradient_sparse (the
                      sparse line-search probe) at [BETA, beta1] over the
                      ragged view — candidate-1 loss/gradient only
                      (candidate 0 duplicates sloss/sgrad) (r13)
    """
    import numpy as np
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import inference, kernels, kernels_sparse
    from dask_glm_spark.functions.families import Logistic
    from dask_glm_spark.operators import solvers
    from dask_glm_spark.plans.layout import ensure_min_parallelism
    from dask_glm_spark.sources.vectors import to_sparse_columns

    # r13 optimization (guide §5 operator-internal caching): the kernel
    # evaluations below each full-scan the same glm projection, so it is
    # persisted ONCE inside the query (materialized by the FIRST kernel
    # job — r14 dropped the separate count() job: the plan is a pure
    # narrow scan+project, so the first agg populates the identical
    # cache as a side effect), released before returning — the kernels
    # then scan memory instead of re-deriving the parquet scan each
    # time. Every value is still produced by the identical REAL
    # kernel/solver entry point with identical inputs, so each job's
    # result (and therefore the DuckDB hash) is unchanged. A thread-pool
    # variant (guide §2.6) was tried and MEASURED SLOWER (sequential-warm
    # ~4-12 s vs 31-47 s with 8 concurrent chains, 3-run A/B at sf0.1):
    # every job's latency here is driver-event-loop-bound, and the
    # DAGScheduler loop is single-threaded, so concurrent tiny jobs queue
    # behind each other instead of overlapping — don't "fix" this again.
    df = _glm_nosort(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)

    # r14 (second pass, guide §2.4): loss1 — the loss at beta1 — is also
    # candidate 1 of the fused multi_loss_gradient probe below, whose
    # per-candidate sums are bit-identical to the standalone loss job
    # (same per-row terms, same row-order accumulation; pinned by
    # tests/test_kernels.py::test_multi_loss_gradient_candidate_loss_
    # matches_loss). gd_step therefore skips its loss scan and loss1 is
    # read from mlg_losses[1] — one whole kernel job removed.
    beta1, _ = solvers.gd_step(df, BETA, GD_STEP_S, compute_loss=False)
    # r14 (guide §2.4, VERDICT r13 #1): gd_step already ran the identical
    # deterministic loss_gradient at (BETA, GD_STEP_S) — its beta1 IS the
    # prox candidate beta - s*grad, so prox_step skips the duplicate
    # gradient job and applies the REAL proximal_operator to it.
    bp = solvers.prox_step(
        df, BETA, GD_STEP_S, PROX_LAMDUH, regularizer="l1", candidate=beta1
    )
    # round 7: the softmax kernel under the same gate — one fused
    # loss+gradient evaluation at the pinned (4,3) SOFTMAX_B over the
    # 3-class label label_cnt % 3; the oracle recomputes the max-shifted
    # softmax and all 12 gradient sums in SQL. Row j carries gradient row
    # j-1 (one column per class); smloss repeats like loss1.
    # carries BOTH label views: _l3 (the softmax 3-class index) and the
    # binary label (the Hvp's y) — the fused arrow gate job reads each
    # through the same float64 pull the standalone jobs used
    df3 = df.select(
        "features",
        "label",
        (F.col("label_cnt") % 3).cast("double").alias("_l3"),
    )
    # round 11 (VERDICT r10 #1): the r10 weighted/offset kernel math under
    # the hash gate — kernels.loss_gradient with weight_col / offset_col at
    # the pinned expressions w = label_cnt%3+1 and o = 0.05*f2 (the same
    # literal text the oracle's wo CTE computes).
    dfwo = df.select(
        "features",
        "label",
        (F.col("label_cnt").cast("int") % 3 + 1).cast("double").alias("w"),
        (F.col("features")[1] * 0.05).alias("o"),
    )

    # round 11 (cont.): pchi2 — the Wald-inference variance function under
    # the gate: Pearson chi^2 at the pinned BETA via the REAL
    # glm_residuals (kind='pearson'), sum of squares; the oracle
    # recomputes (y - sig)^2 / (sig*(1 - sig)) symbolically in the wo CTE.
    # round 12 (VERDICT r11 #6): dres — the per-row DEVIANCE residual at
    # the pinned BETA via the REAL glm_residuals (kind='deviance'); the
    # oracle recomputes sign(y−μ)·sqrt(2·binomial unit deviance), and
    # summing the SIGNED residuals keeps the sign branch under the gate.
    # Both sums come from ONE plain aggregate over the two projections.
    res = inference.glm_residuals(
        dfwo, Logistic, np.asarray(BETA), "pearson", out_col="_rp"
    )
    res = inference.glm_residuals(
        res, Logistic, np.asarray(BETA), "deviance", out_col="_rd"
    )
    with kernels.kernel_exec(spark):
        row = res.agg(
            F.sum(F.col("_rp") * F.col("_rp")).alias("_pchi2"),
            F.sum("_rd").alias("_dres"),
        ).collect()[0]
    pchi2, dres = float(row["_pchi2"]), float(row["_dres"])

    # round 13 (cont.): the SPARSE CSR physical path under the gate —
    # sources.vectors.to_sparse_columns (declarative nonzero filter) feeds
    # kernels_sparse.loss_gradient_sparse + hessian_vector_product_sparse
    # over a RAGGED view: coordinate (label_cnt % 4) is masked to zero per
    # row before the sparse conversion drops it, so the variable-length
    # bincount flatten/scatter/gather is what the oracle hashes (its sp
    # CTE recomputes the masked sums symbolically — an absent coordinate
    # contributes exactly nothing, IEEE-identical to adding 0·beta_j).
    masked = F.transform(
        "features",
        lambda x, i: F.when(
            i == F.col("label_cnt").cast("int") % 4, F.lit(0.0)
        ).otherwise(x),
    )

    # r14 pass 3 (guide §2.4): the softmax evaluation and the Hvp share
    # ONE Arrow scan — each value's per-batch numpy is the unchanged
    # kernel closure, so all values are bit-identical to the two
    # standalone jobs (pytest-pinned; see fused_softmax_hvp).
    smloss, G, hv = kernels.fused_softmax_hvp(
        df3, np.asarray(SOFTMAX_B), Logistic, np.asarray(BETA),
        np.asarray(HVP_V), 4, softmax_label_col="_l3",
    )
    wloss, wgrad = kernels.loss_gradient(dfwo, Logistic, BETA, weight_col="w")
    oloss, ograd = kernels.loss_gradient(dfwo, Logistic, BETA, offset_col="o")
    # spread BEFORE the sparse conversion: the sf0.1 parquet arrives as 3
    # splits, and the JVM→Python Arrow write of list columns (the
    # dominant cost of a sparse scan, ~2.4 s single-task at this SF)
    # would otherwise run 3-wide on a 32-core box — the same layout fix
    # _run_sparse applies to production sparse fits
    sdf = to_sparse_columns(
        ensure_min_parallelism(df).select(masked.alias("features"), "label"),
        "features",
    ).persist()  # the fused sparse gate job shares one exchange+conversion
    # round 13: the fused multi-probe line-search kernels at the
    # candidate pair [BETA, beta1] — multi_loss_gradient (the exact
    # per-iteration probe dense gd/prox run) and its sparse twin
    # over the same ragged view. Candidate 0 must reproduce the
    # single-candidate kernels' gated values (mlgl0 = q02's loss, mlgg0 =
    # q05's gradient); candidate 1's gradient is new math the oracle's b
    # CTE recomputes. Candidate 1's LOSS doubles as loss1 (the gd_step
    # loss scan it replaces is bit-identical — see the gd_step call above).
    mlg_losses, mlg_grads = kernels.multi_loss_gradient(
        df.select("features", "label"), Logistic,
        [np.asarray(BETA), np.asarray(beta1)],
    )
    loss1 = float(mlg_losses[1])
    # r14 pass 3 (guide §2.4): the three sparse gate kernels (loss+grad,
    # Hvp, and the [BETA, beta1] line-search probe) share ONE mapInArrow
    # scan of the cached sparse view — each value's per-batch CSR numpy is
    # the unchanged kernel closure, so all values are bit-identical to the
    # three former separate jobs (pytest-pinned; see fused_sparse_gate).
    (sloss, sgrad), shv, (smlg_losses, smlg_grads) = (
        kernels_sparse.fused_sparse_gate(
            sdf, Logistic, np.asarray(BETA), np.asarray(HVP_V),
            [np.asarray(BETA), np.asarray(beta1)], 4,
        )
    )
    sdf.unpersist()
    df.unpersist()
    rows = [
        (
            j + 1,
            float(beta1[j]),
            float(loss1),
            float(bp[j]),
            float(smloss),
            float(G[j, 0]),
            float(G[j, 1]),
            float(G[j, 2]),
            float(wloss),
            float(wgrad[j]),
            float(oloss),
            float(ograd[j]),
            pchi2,
            dres,
            float(hv[j]),
            float(sloss),
            float(sgrad[j]),
            float(shv[j]),
            float(mlg_losses[0]),
            float(mlg_losses[1]),
            float(mlg_grads[j, 0]),
            float(mlg_grads[j, 1]),
            float(smlg_losses[1]),
            float(smlg_grads[j, 1]),
        )
        for j in range(len(beta1))
    ]
    # rows are emitted j-ascending — the literal order IS the former
    # orderBy("j") order (LocalTableScan preserves it); the VALUES form
    # collects with zero Spark jobs where the RDD-backed frame paid a
    # parallelize job + the orderBy's sampling/exchange jobs
    return (
        _local_rows_df(
            spark,
            rows,
            "j int, beta1 double, loss1 double, beta1_prox double, "
            "smloss double, smg_c0 double, smg_c1 double, smg_c2 double, "
            "wloss double, wgrad double, oloss double, ograd double, "
            "pchi2 double, dres double, hvp double, "
            "sloss double, sgrad double, shvp double, "
            "mlgl0 double, mlgl1 double, mlgg0 double, mlgg1 double, "
            "smlgl1 double, smlgg1 double",
        )
        .select(
            "j",
            F.round("beta1", 6).cast("double").alias("beta1"),
            F.round("loss1", 3).cast("double").alias("loss1"),
            F.round("beta1_prox", 6).cast("double").alias("beta1_prox"),
            F.round("smloss", 3).cast("double").alias("smloss"),
            F.round("smg_c0", 3).cast("double").alias("smg_c0"),
            F.round("smg_c1", 3).cast("double").alias("smg_c1"),
            F.round("smg_c2", 3).cast("double").alias("smg_c2"),
            F.round("wloss", 3).cast("double").alias("wloss"),
            F.round("wgrad", 3).cast("double").alias("wgrad"),
            F.round("oloss", 3).cast("double").alias("oloss"),
            F.round("ograd", 3).cast("double").alias("ograd"),
            F.round("pchi2", 3).cast("double").alias("pchi2"),
            F.round("dres", 3).cast("double").alias("dres"),
            F.round("hvp", 3).cast("double").alias("hvp"),
            F.round("sloss", 3).cast("double").alias("sloss"),
            F.round("sgrad", 3).cast("double").alias("sgrad"),
            F.round("shvp", 3).cast("double").alias("shvp"),
            F.round("mlgl0", 3).cast("double").alias("mlgl0"),
            F.round("mlgl1", 3).cast("double").alias("mlgl1"),
            F.round("mlgg0", 3).cast("double").alias("mlgg0"),
            F.round("mlgg1", 3).cast("double").alias("mlgg1"),
            F.round("smlgl1", 3).cast("double").alias("smlgl1"),
            F.round("smlgg1", 3).cast("double").alias("smlgg1"),
        )
    )


ENGINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_matvec": _q_matvec,
    "q02_logistic_loglike": _q_loglike("logistic", "label", "loglike", 3),
    "q03_normal_loglike": _q_loglike("normal", "label_reg", "sse", 3),
    "q04_poisson_loglike": _q_loglike("poisson", "label_cnt", "loglike", 3),
    "q05_logistic_gradient": _q_gradient("logistic", "label"),
    "q06_normal_gradient": _q_gradient("normal", "label_reg"),
    "q07_poisson_gradient": _q_gradient("poisson", "label_cnt"),
    "q08_gram_hessian": _q_gram,
    "q09_moments": _q_moments,
    "q10_sigmoid": _q_sigmoid,
    "q11_accuracy": _q_accuracy,
    "q12_mse": _q_mse,
    "q13_poisson_deviance": _q_poisson_deviance,
    "q14_add_intercept": _q_add_intercept,
    "q15_standardize": _q_standardize,
    "q48_solver_steps": _q_solver_steps,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: logistic regression fit (newton) on sf0.001 + lazy scoring.

    Returns the per-class calibration summary of the fitted model — small,
    stable schema, exercises ingest -> kernels -> solver -> predict."""
    from pyspark.sql import functions as F

    from dask_glm_spark.operators.estimators import LogisticRegression
    from dask_glm_spark.sources.glm_source import load_glm_fast

    df = load_glm_fast(spark, "/root/testdata/sf0.001")
    lr = LogisticRegression(solver="newton", max_iter=20).fit(df)
    pred = lr.predict(df)
    return (
        pred.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.avg("probability").alias("avg_probability"),
            F.avg("prediction").alias("avg_prediction"),
        )
        .orderBy("label")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {**ENGINE_QUERIES, **PIPELINE_QUERIES}


def oracle_sql() -> dict[str, str]:
    return {**KERNEL_SQL, **PIPELINE_SQL}
