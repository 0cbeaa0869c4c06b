-- Bench.headline q2: revenue in integer cents per nation over
-- lineitem ⋈ orders ⋈ customer ⋈ nation.
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
