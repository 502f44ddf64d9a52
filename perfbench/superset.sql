-- Superset chart and SQL-Lab statements over the job star, written in
-- the SQL subset Spark and DuckDB share so one text serves both the
-- engine (spark.sql) and the DuckDB check over the warehouse parquet.
-- Every statement ends in a total ORDER BY; counts only, no float sums.

-- name: superset_slice1_total_postings
SELECT COUNT(f.job_posting_pk) AS total_postings
FROM fact_job_postings f;

-- name: superset_slice3_recent_postings
SELECT f.job_posting_pk, j.job_title, c.employer_name, l.job_city,
       d.full_date
FROM fact_job_postings f
LEFT JOIN dim_job_details j ON f.job_sk = j.job_sk
LEFT JOIN dim_company c ON f.company_sk = c.company_sk
LEFT JOIN dim_location l ON f.location_sk = l.location_sk
LEFT JOIN dim_date d ON f.date_sk = d.date_sk
WHERE d.full_date >= DATE '2025-12-20'
ORDER BY d.full_date DESC, f.job_posting_pk
LIMIT 1000;

-- name: superset_q07_skill_counts
SELECT s.skill_name, COUNT(*) AS postings
FROM bridge_job_skill b
LEFT JOIN dim_skill s ON b.skill_sk = s.skill_sk
GROUP BY s.skill_name
ORDER BY postings DESC, s.skill_name;

-- name: superset_q08_postings_by_month
SELECT CAST(date_trunc('month', d.full_date) AS DATE) AS month_start,
       COUNT(f.job_posting_pk) AS postings
FROM fact_job_postings f
LEFT JOIN dim_date d ON f.date_sk = d.date_sk
GROUP BY CAST(date_trunc('month', d.full_date) AS DATE)
ORDER BY month_start;

-- name: superset_q11_top_employers
SELECT c.employer_name, COUNT(f.job_posting_pk) AS postings
FROM fact_job_postings f
LEFT JOIN dim_company c ON f.company_sk = c.company_sk
GROUP BY c.employer_name
ORDER BY postings DESC, c.employer_name
LIMIT 15;
